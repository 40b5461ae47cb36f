"""Seeded bronze CSV generator for the ``medallion_cdc`` workload.

Derives the five reference bronze entities from the TPC-H-style ``orders``
and ``customer`` parquet tables and splits them into two CDC batches.
Every batch carries exact duplicate lines, dates written in rotating
formats, and rows the key filter must reject.

The expected silver and gold contents are computed here in plain Python
from the parquet rows, without importing ``lakeforge``, so the benchmark's
correctness check does not grade the engine against itself.

Usage: python3 lakebench/bronze.py SF_DIR OUT_DIR SEED
"""

from __future__ import annotations

import csv
import datetime as dt
import io
import json
import os
import random
import sys

import pyarrow.parquet as pq

ENTITIES = ("accounts", "account_details", "person", "person_profile", "person_iden")

HEADERS = {
    "accounts": ("Acc no", "Date", "Status"),
    "account_details": ("Acc no", "Date", "type"),
    "person": ("Acc no", "Person"),
    "person_profile": ("Person", "Name", "Date"),
    "person_iden": ("Person", "Id", "Date"),
}
# Position of the date field in each entity's row (None: undated), and of
# the field its silver partition derives from (p_ym from the date, or the
# account number for ``person``).
DATE_AT = {"accounts": 1, "account_details": 1, "person": None,
           "person_profile": 2, "person_iden": 2}
PART_AT = {"accounts": 1, "account_details": 1, "person": 0,
           "person_profile": 2, "person_iden": 2}

# The engine's multi-format date parser tries these in order and keeps the
# first that parses (lakeforge.functions.dates.DEFAULT_DATE_FORMATS).
SPARK_FORMATS = ("dd-MMM-yy", "yyyy-MM-dd", "dd/MM/yyyy", "MM/dd/yyyy")
_MONTHS = ("Jan", "Feb", "Mar", "Apr", "May", "Jun",
           "Jul", "Aug", "Sep", "Oct", "Nov", "Dec")

# TPC-H dates span 1992-1998; the two-digit-year format reads "92" as 2092,
# so dates move forward 28 years (which keeps weekdays and leap days).
YEAR_SHIFT = 28
# Customers sampled from the sf0.1 customers with orders.  The run budget
# sets the size, not the data: measured wall_s was 25 s at 40 accounts,
# 29 s at 160 and 45 s at 640, and 160 is the largest of these that keeps a
# whole run within its share of the budget (lakebench/spec.json, "sizing").
N_ACCOUNTS = 160
# A random split over the whole history: batch 2 is the smaller increment
# and lands mostly in partitions silver already holds, so cdc_s times the
# partition rewrites a late-arriving CDC batch causes.
BATCH1_SHARE = 0.7
# The dirty-row shares have no measured source.  They are small, so clean
# rows dominate every batch, and large enough that every batch carries each
# kind (rejects are at least one line per batch of each entity).
REPLAY_SHARE = 0.05  # batch-1 rows that batch 2 sends again
DUP_SHARE = 0.03  # lines written twice within a batch
REJECT_SHARE = 0.02  # lines the key filter must drop
BAD_DATES = ("not-a-date", "2023-02-30", "31/02/2022")


def render_date(d: dt.date, i: int) -> tuple[str, int]:
    """Write ``d`` in format ``i % 4``.  ``MM/dd/yyyy`` with a day of 12 or
    less would parse as ``dd/MM/yyyy`` first, so those fall back to ISO.
    Returns the text and the format index used."""
    f = i % len(SPARK_FORMATS)
    if f == 3 and d.day <= 12:
        f = 1
    text = (
        f"{d.day:02d}-{_MONTHS[d.month - 1]}-{d.year % 100:02d}",
        d.isoformat(),
        f"{d.day:02d}/{d.month:02d}/{d.year}",
        f"{d.month:02d}/{d.day:02d}/{d.year}",
    )[f]
    return text, f


def _source_rows(sf_dir: str, rng: random.Random) -> dict[str, list[tuple]]:
    """True (normalized) rows per entity; dates are ``datetime.date``."""
    orders = pq.read_table(
        f"{sf_dir}/orders.parquet",
        columns=["o_custkey", "o_orderstatus", "o_orderdate", "o_orderpriority"],
    ).to_pylist()
    customers = {
        r["c_custkey"]: r
        for r in pq.read_table(
            f"{sf_dir}/customer.parquet", columns=["c_custkey", "c_name", "c_nationkey"]
        ).to_pylist()
    }
    with_orders = sorted({o["o_custkey"] for o in orders})
    chosen = sorted(rng.sample(with_orders, min(N_ACCOUNTS, len(with_orders))))
    keep = set(chosen)

    def shift(ts) -> dt.date:
        d = ts.date() if isinstance(ts, dt.datetime) else ts
        return d.replace(year=d.year + YEAR_SHIFT)

    rows: dict[str, list[tuple]] = {e: [] for e in ENTITIES}
    dates: dict[int, set[dt.date]] = {}
    for o in orders:
        ck = o["o_custkey"]
        d = shift(o["o_orderdate"])
        # One status and type per account and day: SCD2 needs a single
        # row per (key, date) to order a timeline deterministically.
        if ck not in keep or d in dates.get(ck, ()):
            continue
        acc = f"AC{ck:06d}"
        rows["accounts"].append((acc, d, o["o_orderstatus"]))
        rows["account_details"].append((acc, d, o["o_orderpriority"]))
        dates.setdefault(ck, set()).add(d)
    for ck in chosen:
        acc, person = f"AC{ck:06d}", f"PR{ck:06d}"
        rows["person"].append((acc, person))
        if rng.random() < 0.3:  # a co-holder makes the link many-to-many
            rows["person"].append((acc, f"PR{rng.choice(chosen):06d}"))
        ds = sorted(dates[ck])
        c = customers[ck]
        ident = f"ID{c['c_nationkey']:02d}-{ck:06d}"
        rows["person_profile"].append((person, c["c_name"], ds[0]))
        rows["person_iden"].append((person, ident, ds[0]))
        if len(ds) > 1 and rng.random() < 0.3:  # a name change (SCD2 version)
            rows["person_profile"].append((person, c["c_name"] + " Jr", rng.choice(ds[1:])))
        if len(ds) > 1 and rng.random() < 0.2:  # a reissued id
            rows["person_iden"].append((person, ident + "R", rng.choice(ds[1:])))
    return rows


def _partition(entity: str, row: tuple) -> str:
    v = row[PART_AT[entity]]
    return f"{v.year}{v.month:02d}" if isinstance(v, dt.date) else v


def _iso(row: tuple) -> list[str]:
    return [v.isoformat() if isinstance(v, dt.date) else v for v in row]


def generate(sf_dir: str, seed: int) -> tuple[dict[str, dict[int, str]], dict]:
    """Return ``(csv_text[entity][batch], expectations)`` for ``seed``."""
    rng = random.Random(seed)
    source = _source_rows(sf_dir, rng)
    texts: dict[str, dict[int, str]] = {}
    exp: dict = {"seed": seed, "entities": {}, "batches": {1: {}, 2: {}}}
    for entity in ENTITIES:
        rows = source[entity]
        b1 = [r for r in rows if rng.random() < BATCH1_SHARE]
        b1_set = set(b1)
        b2 = [r for r in rows if r not in b1_set]
        b2 += [r for r in b1 if rng.random() < REPLAY_SHARE]
        silver: set[tuple] = set()
        per_batch = {}
        texts[entity] = {}
        for b, batch in ((1, b1), (2, b2)):
            lines: list[tuple[tuple | None, tuple | None]] = [(r, None) for r in batch]
            lines += [(r, None) for r in batch if rng.random() < DUP_SHARE]
            n_bad = max(1, round(REJECT_SHARE * len(batch)))
            lines += [(None, rng.choice(batch)) for _ in range(n_bad)]
            rng.shuffle(lines)
            out = io.StringIO()
            w = csv.writer(out, lineterminator="\n")
            w.writerow(HEADERS[entity])
            valid: list[tuple] = []
            formats = [0, 0, 0, 0]
            dups = len(lines) - len(set(l for l, _ in lines if l)) - n_bad
            for i, (good, bad) in enumerate(lines):
                row = good or bad
                fields = list(row)
                at = DATE_AT[entity]
                if at is not None:
                    if good is not None:
                        fields[at], f = render_date(row[at], i)
                        formats[f] += 1
                    else:
                        fields[at] = BAD_DATES[i % len(BAD_DATES)]
                elif bad is not None:
                    fields = fields[:1]  # missing key field -> null
                if good is not None:
                    valid.append(good)
                w.writerow(fields)
            before = len(silver)
            held = {_partition(entity, r) for r in silver}
            silver |= set(valid)
            per_batch[b] = {
                "rows_in": len(lines),
                "rows_rejected": n_bad,
                "rows_out": len(silver) - before,
                "rows_deduped": len(valid) - (len(silver) - before),
                "duplicate_lines": dups,
                "formats_used": formats,
                "in_existing_partitions": sum(_partition(entity, r) in held for r in valid),
                "valid_rows": len(valid),
            }
            texts[entity][b] = out.getvalue()
        exp["entities"][entity] = {
            "batches": per_batch,
            "silver": sorted(_iso(r) for r in silver),
        }
    final = {e: exp["entities"][e]["silver"] for e in ENTITIES}
    exp["gold"] = {
        "dim_date": sorted({
            r[DATE_AT[e]] for e in ("accounts", "account_details", "person_profile", "person_iden")
            for r in final[e]
        }),
        "bridge": sorted({tuple(r) for r in final["person"]}),
        "account_keys": sorted({r[0] for r in final["accounts"]}),
        "person_keys": sorted({r[0] for r in final["person_profile"]} | {r[0] for r in final["person_iden"]}),
    }
    for b in (1, 2):
        exp["batches"][b]["bronze_bytes"] = sum(len(texts[e][b].encode()) for e in ENTITIES)
    b2 = [exp["entities"][e]["batches"][2] for e in ENTITIES]
    exp["batch2_existing_share"] = (
        sum(x["in_existing_partitions"] for x in b2) / max(1, sum(x["valid_rows"] for x in b2))
    )
    return texts, json.loads(json.dumps(exp))  # int keys read back as strings, as from the file


def write(sf_dir: str, out_dir: str, seed: int) -> None:
    """Write ``out_dir/b{1,2}/<entity>.csv`` and ``out_dir/expect.json``."""
    texts, exp = generate(sf_dir, seed)
    for entity, by_batch in texts.items():
        for b, text in by_batch.items():
            os.makedirs(f"{out_dir}/b{b}", exist_ok=True)
            with open(f"{out_dir}/b{b}/{entity}.csv", "w") as f:
                f.write(text)
    with open(f"{out_dir}/expect.json", "w") as f:
        json.dump(exp, f)


if __name__ == "__main__":
    write(sys.argv[1], sys.argv[2], int(sys.argv[3]))
