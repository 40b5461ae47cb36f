"""One benchmark run in a fresh process, started by ``lakebench/run.py``.

Sets up a SparkSession exactly as ``bench.py`` does (``get_spark`` plus the
generic warm-up), runs the workload's measured region in a closed loop,
then checks the outputs outside the timed region.  With ``--trace 1`` it
also records spans, a per-query job group and an uncompressed event log,
and folds them into per-layer metrics.  The result goes to ``--out`` as
JSON; nothing is printed on success.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(ROOT), str(HERE)]

import stats  # noqa: E402  (lakebench/stats.py)
from stats import FAILED, Tracer  # noqa: E402

# build_gold's tables, in the order they are written.
GOLD_TABLES = ("dim_account", "dim_person", "dim_date", "bridge_account_person", "fact_account_snapshot")


def _args() -> argparse.Namespace:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--trace", type=int, default=0)
    p.add_argument("--scratch", required=True)
    p.add_argument("--sf-dir", required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--t0", type=float, required=True)  # spawn time, time.monotonic()
    p.add_argument("--cores", type=int, required=True)
    return p.parse_args()


class Run:
    """State shared by the set-up, the measured region and the checks."""

    def __init__(self, a: argparse.Namespace):
        self.a = a
        self.spec = json.loads((HERE / "spec.json").read_text())["workloads"][a.workload]
        self.tracer = Tracer(enabled=bool(a.trace))
        self.latencies: list[float] = []
        self.failed = 0
        self.errors: list[str] = []
        self.frames = 0
        self.leaked = 0
        self.written: dict[str, dict] = {}
        self.expect: dict | None = None

    # ------------------------------------------------------------- set-up
    def setup(self) -> None:
        a = self.a
        s = Path(a.scratch)
        from lakeforge import cache
        from lakeforge.session import get_spark
        from lakeforge.workload import QUERIES

        import bench

        self.parts = {"setup.import_s": time.monotonic() - a.t0}

        conf = {
            "spark.local.dir": str(s / "local"),
            "spark.sql.warehouse.dir": str(s / "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Dderby.system.home={s / 'derby'} -Djava.io.tmpdir={s / 'tmp'}",
        }
        if a.trace:
            (s / "eventlog").mkdir()
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
                "spark.eventLog.dir": f"file://{s / 'eventlog'}",
            })
        self.cache = cache
        self.master = f"local[{a.cores}]"
        self.spark = get_spark(f"lakebench-{a.workload}", master=self.master, extra_conf=conf)
        self.sc = self.spark.sparkContext
        self.sc.setLogLevel("ERROR")
        self.parts["setup.session_s"] = time.monotonic() - a.t0 - self.parts["setup.import_s"]
        t = time.monotonic()
        for warm in bench._WARM:
            QUERIES[warm](self.spark, a.sf_dir).write.format("noop").mode("overwrite").save()
            cache.release_all()
            self.spark.catalog.clearCache()
        bench._warm_python_boundary(self.spark)
        cache.release_all()
        self.spark.catalog.clearCache()
        self.parts["setup.warm_s"] = time.monotonic() - t
        self.jvm_pid = int(self.sc._jvm.java.lang.ProcessHandle.current().pid())

    def fail(self, msg: str) -> None:
        self.failed += 1
        self.errors.append(msg)

    def group(self, name: str) -> None:
        if self.a.trace:
            self.sc.setJobGroup(name, name)

    def release(self) -> None:
        try:
            with self.tracer.span("release"):
                self.frames += self.cache.release_all()
                self.spark.catalog.clearCache()
                leaked = self.cache.n_cached_rdds(self.spark)
        except Exception as e:
            self.fail(f"release: {type(e).__name__}: {str(e)[:300]}")
            return
        self.leaked += leaked
        if leaked:
            self.fail(f"{leaked} cached RDDs survived the release")

    def step(self, span: str, fn):
        """Run and time one medallion step; an exception counts as a failed
        operation, and the remaining steps still run."""
        t0 = time.perf_counter()
        try:
            with self.tracer.span(span):
                out = fn()
        except Exception as e:
            self.fail(f"{span}: {type(e).__name__}: {str(e)[:300]}")
            self.latencies.append(FAILED)
            return None
        self.latencies.append(time.perf_counter() - t0)
        return out

    # ---------------------------------------------------- query workloads
    def run_queries(self) -> None:
        from lakeforge.workload import QUERIES

        spark, sf, tr = self.spark, self.a.sf_dir, self.tracer
        self.per_query: dict[str, float] = {}
        # One fixed order for every seed: the first queries of a session pay
        # JIT warm-up, and a seed-shuffled order changed which ones did.
        for name in self.spec["queries"]:
            self.group(f"q:{name}")
            t0 = time.perf_counter()
            ok = True
            with tr.span(f"query:{name}"):
                try:
                    with tr.span("build"):
                        df = QUERIES[name](spark, sf)
                    if self.a.trace:
                        with tr.span("trace.rebuild"):
                            df2 = QUERIES[name](spark, sf)
                        with tr.span("plan"):
                            df2._jdf.queryExecution().executedPlan()
                    with tr.span("exec"):
                        df.write.format("noop").mode("overwrite").save()
                except Exception as e:  # counted, never fatal
                    ok = False
                    self.fail(f"{name}: {type(e).__name__}: {str(e)[:300]}")
                t1 = time.perf_counter()
                self.release()
            self.latencies.append(t1 - t0 if ok else FAILED)
            self.per_query[name] = self.latencies[-1]

    def check_queries(self) -> int:
        """Compare query outputs with their DuckDB twins; returns how many
        queries were checked."""
        import duckdb

        sys.path.insert(0, str(ROOT / "tools"))
        import check_oracle
        from lakeforge.io.sources import TESTDATA_TABLES
        from lakeforge.workload import ORACLE_SQL, QUERIES

        # The seed's share: check_stride consecutive seeds cover every query.
        k = self.spec["check_stride"]
        names = [n for i, n in enumerate(sorted(self.spec["queries"])) if i % k == self.a.seed % k]
        con = duckdb.connect()
        con.execute(f"SET threads={self.a.cores}")
        for t in TESTDATA_TABLES:
            path = f"{self.a.sf_dir}/{t}.parquet"
            if os.path.exists(path):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        for name in names:
            try:
                df = QUERIES[name](self.spark, self.a.sf_dir)
                cols, rows = df.columns, df.collect()
                res = con.execute(ORACLE_SQL[name])
                problems = check_oracle.compare(
                    name, rows, cols, res.fetchall(), [c[0] for c in res.description]
                )
            except Exception as e:
                problems = [f"{type(e).__name__}: {str(e)[:300]}"]
            finally:
                self.cache.release_all()
            if problems:
                self.fail(f"oracle {name}: {problems[:2]}")
        return len(names)

    # ------------------------------------------------------ medallion_cdc
    def run_medallion(self) -> None:
        from bronze import ENTITIES
        from lakeforge.io.sinks import write_partitioned_parquet
        from lakeforge.io.sources import read_csv
        from lakeforge.ops.merge import merge_full_history
        from lakeforge.ops.normalize import REFERENCE_ENTITIES, normalize_entity
        from lakeforge.pipelines.medallion import ENTITY_LAYOUT, build_gold
        from lakeforge.schemas import BRONZE_SCHEMAS

        s, spark, tr = Path(self.a.scratch), self.spark, self.tracer
        silver, gold = s / "silver", s / "gold"
        self.batch_s: dict[int, float] = {}

        def merge(entity: str, b: int) -> None:
            raw = read_csv(spark, str(s / f"bronze/b{b}/{entity}.csv"), BRONZE_SCHEMAS[entity])
            norm = normalize_entity(raw, REFERENCE_ENTITIES[entity])
            keys, parts = ENTITY_LAYOUT[entity]
            merge_full_history(spark, norm, str(silver / entity), keys, parts)

        for b in (1, 2):
            tb = time.perf_counter()
            with tr.span(f"batch{b}"):
                for entity in ENTITIES:
                    self.group(f"silver:{entity}:b{b}")
                    self.step(f"ops.merge.merge_full_history.{entity}", lambda: merge(entity, b))
                if self.a.trace:
                    with tr.span("trace.listing"):
                        self.written[f"silver.b{b}"] = _files_since(silver, tb)
                self.group(f"gold:b{b}")
                tables = self.step("pipelines.medallion.build_gold", lambda: build_gold(spark, str(silver))) or {}
                # A fixed list, so a failed build_gold still counts five
                # failed writes and every run attempts the same 22 steps.
                for name in GOLD_TABLES:
                    self.step("io.sinks.write", lambda: write_partitioned_parquet(
                        tables[name], str(gold / name), None, mode="overwrite"))
                if self.a.trace:
                    with tr.span("trace.listing"):
                        self.written[f"gold.b{b}"] = _files_since(gold, tb)
                self.release()
            self.batch_s[b] = time.perf_counter() - tb

    def check_medallion(self) -> dict[str, float]:
        """Check silver and gold against the generator's plain-Python
        expectations; returns the silver row counts (counted here, outside
        the timed region)."""
        from pyspark.sql import functions as F

        from bronze import ENTITIES
        from lakeforge.io.sources import read_csv
        from lakeforge.ops.normalize import REFERENCE_ENTITIES, normalize_entity
        from lakeforge.schemas import BRONZE_SCHEMAS

        s, spark = Path(self.a.scratch), self.spark
        exp = json.loads((s / "bronze/expect.json").read_text())
        counts = dict.fromkeys(("rows_in", "rows_rejected", "rows_deduped", "rows_out"), 0)

        fail = self.fail
        for entity in ENTITIES:
            spec = REFERENCE_ENTITIES[entity]
            cols = list(spec.rename.values())
            e = exp["entities"][entity]
            # One job reads silver back, one counts both batches: the check's
            # time counts against the run budget, not against the metrics.
            extra = list(spec.partition_from or ())[1:]
            rows = spark.read.parquet(str(s / "silver" / entity)).select(*cols, *extra).collect()
            got = sorted([v.isoformat() if hasattr(v, "isoformat") else v for v in r[:len(cols)]] for r in rows)
            if got != e["silver"]:
                fail(f"silver {entity}: {len(got)} rows, expected {len(e['silver'])}")
            if spec.partition_from:
                src, part = spec.partition_from
                bad = sum(r[src].strftime("%Y%m") != str(r[part]) for r in rows)
                if bad:
                    fail(f"silver {entity}: {bad} rows in the wrong partition")
            batches = [
                normalize_entity(read_csv(spark, str(s / f"bronze/b{b}/{entity}.csv"), BRONZE_SCHEMAS[entity]), spec)
                .withColumn("_batch", F.lit(b))
                for b in (1, 2)
            ]
            valid = {
                r[0]: (r[1], r[2])
                for r in batches[0].unionByName(batches[1])
                .groupBy("_batch").agg(F.count("*"), F.count_distinct(*cols)).collect()
            }
            out_before = 0
            for b in (1, 2):
                path = s / f"bronze/b{b}/{entity}.csv"
                n_in = len(path.read_text().splitlines()) - 1  # minus the header
                n_valid, n_distinct = valid.get(b, (0, 0))
                out = n_distinct if b == 1 else len(got) - out_before
                got_b = {"rows_in": n_in, "rows_rejected": n_in - n_valid,
                         "rows_out": out, "rows_deduped": n_valid - out}
                want = {k: e["batches"][str(b)][k] for k in got_b}
                if got_b != want:
                    fail(f"silver {entity} batch {b}: counts {got_b}, expected {want}")
                for k, v in got_b.items():
                    counts[k] += v
                out_before += out

        g = exp["gold"]
        read = lambda t: spark.read.parquet(str(s / "gold" / t))  # noqa: E731
        for dim, key, want_keys in (
            ("dim_account", "acc_no", g["account_keys"]),
            ("dim_person", "person", g["person_keys"]),
        ):
            rows = read(dim).select(key, "effective_start_date", "effective_end_date", "is_current").collect()
            by_key: dict[str, list] = {}
            for r in rows:
                by_key.setdefault(r[0], []).append(r)
            if sorted(by_key) != want_keys:
                fail(f"{dim}: {len(by_key)} keys, expected {len(want_keys)}")
            for k, versions in by_key.items():
                versions.sort(key=lambda r: r[1])
                if sum(bool(r[3]) for r in versions) != 1:
                    fail(f"{dim} {k}: {sum(bool(r[3]) for r in versions)} current rows")
                    break
                if any(r[1] > r[2] for r in versions) or any(
                    p[2] >= n[1] for p, n in zip(versions, versions[1:])
                ):
                    fail(f"{dim} {k}: overlapping SCD2 intervals")
                    break
        orphans = (
            read("fact_account_snapshot").select("account_sk")
            .join(read("dim_account").select("account_sk"), "account_sk", "left_anti").count()
        )
        if orphans:
            fail(f"fact_account_snapshot: {orphans} rows with no dim_account SK")
        dates = sorted(r[0].isoformat() for r in read("dim_date").collect())
        if dates != g["dim_date"]:
            fail(f"dim_date: {len(dates)} dates, expected {len(g['dim_date'])}")
        bridge = sorted([r[0], r[1]] for r in read("bridge_account_person").select("acc_no", "person").collect())
        if bridge != g["bridge"]:
            fail(f"bridge_account_person: {len(bridge)} rows, expected {len(g['bridge'])}")
        return counts

    # --------------------------------------------------------- per-layer
    def layer_metrics(self, untraced_counts: dict[str, float], wall: float) -> dict[str, float]:
        self.spark.stop()  # flushes the event log
        fold = stats.fold_event_log(
            stats.read_event_log(str(Path(self.a.scratch) / "eventlog")),
            group_of=lambda g: g.split(":", 1)[0] if g else "",
        )
        measured = {k: v for k, v in fold.items() if k in ("q", "silver", "gold")}
        total = lambda k: sum(v[k] for v in measured.values())  # noqa: E731
        own = stats.self_times(self.tracer.spans)
        m = {
            "workload.build_s": own.get("build", 0.0),
            "spark.plan_s": own.get("plan", 0.0),
            "spark.exec_s": own.get("exec", 0.0),
            "spark.jobs": total("jobs"),
            "spark.stages": total("stages"),
            "spark.tasks": total("tasks"),
            "spark.task_cpu_s": total("task_cpu_s"),
            "spark.gc_s": total("gc_s"),
            "spark.shuffle_write_mb": total("shuffle_write_mb"),
            "spark.spill_mb": total("spill_mb"),
            "cache.frames_released": float(self.frames),
            "cache.release_s": own.get("release", 0.0),
            "cache.leaked_rdds": float(self.leaked),
            "silver.jobs": fold.get("silver", {}).get("jobs", 0.0),
            "gold.jobs": fold.get("gold", {}).get("jobs", 0.0),
            "pipelines.medallion.build_gold_s": own.get("pipelines.medallion.build_gold", 0.0),
            "io.sinks.write_s": own.get("io.sinks.write", 0.0),
        }
        # Work only the traced run does: the second build and its plan, and
        # the listing of written files.  The event log's cost is not split out.
        extra = own.get("trace.rebuild", 0.0) + own.get("plan", 0.0) + own.get("trace.listing", 0.0)
        m["trace.wall_s"] = wall
        m["trace.overhead"] = extra / max(wall - extra, 1e-9)
        merges = {k: v for k, v in own.items() if k.startswith("ops.merge.merge_full_history.")}
        m["ops.merge.merge_full_history_s"] = sum(merges.values())
        from bronze import ENTITIES

        for e in ENTITIES:
            m[f"ops.merge.merge_full_history_s.{e}"] = merges.get(f"ops.merge.merge_full_history.{e}", 0.0)
        files = sum(v["files"] for k, v in self.written.items() if k.startswith("silver"))
        m["silver.files_written"] = float(files)
        m["silver.bytes_written_mb"] = sum(v["bytes"] for k, v in self.written.items() if k.startswith("silver")) / 2**20
        m["gold.bytes_written_mb"] = sum(v["bytes"] for k, v in self.written.items() if k.startswith("gold")) / 2**20
        exp = self.expect
        for b in (1, 2):
            out = sum(v["bytes"] for k, v in self.written.items() if k.endswith(f".b{b}"))
            m[f"write_amplification.batch{b}"] = out / exp["batches"][str(b)]["bronze_bytes"] if exp else 0.0
        m["silver.batch2_existing_share"] = exp["batch2_existing_share"] if exp else 0.0
        for k in ("rows_in", "rows_rejected", "rows_deduped", "rows_out"):
            m[f"silver.{k}"] = float(untraced_counts.get(k, 0))
        return m


def _files_since(root: Path, since: float) -> dict[str, float]:
    """Data files under ``root`` written after perf-counter time ``since``."""
    cutoff = time.time() - (time.perf_counter() - since)
    files = size = 0
    for d, _, names in os.walk(root):
        for n in names:
            if n.startswith((".", "_")):
                continue
            st = os.stat(os.path.join(d, n))
            if st.st_mtime >= cutoff:
                files += 1
                size += st.st_size
    return {"files": files, "bytes": size}


def main() -> int:
    a = _args()
    run = Run(a)
    result: dict = {"workload": a.workload, "seed": a.seed, "trace": a.trace}
    try:
        run.setup()
        result["setup_s"] = time.monotonic() - a.t0
        result["master"] = run.master
        # Peak memory the JVM actually used in the measured region, heap and
        # non-heap: its RSS mostly reads the heap size G1 chose to commit.
        pools = list(run.sc._jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans())
        for pool in pools:
            pool.resetPeakUsage()
        cpu0, w0 = os.times(), stats.worker_cpu_seconds(run.jvm_pid)
        j0 = stats.reaped_child_cpu_seconds(run.jvm_pid)
        t = time.perf_counter()
        if a.workload == "medallion_cdc":
            run.run_medallion()
        else:
            run.run_queries()
        wall = time.perf_counter() - t
        cpu1, w1 = os.times(), stats.worker_cpu_seconds(run.jvm_pid)
        j1 = stats.reaped_child_cpu_seconds(run.jvm_pid)
        workers = stats.descendants(run.jvm_pid)
        peaks = [(p.getType().name(), p.getPeakUsage().getUsed() / 2**20) for p in pools]
        heap = sum(v for kind, v in peaks if kind == "HEAP")
        attempted = len(run.latencies)
        run.group("check")
        counts: dict[str, float] = {}
        if a.workload == "medallion_cdc":
            run.expect = json.loads((Path(a.scratch) / "bronze/expect.json").read_text())
            cdc = run.batch_s[2]
            checked = 1
            try:
                counts = run.check_medallion()
            except Exception as e:
                run.fail(f"check: {type(e).__name__}: {str(e)[:300]}")
        else:
            cdc = sum(run.per_query.get(n, FAILED) for n in run.spec["cdc_queries"])
            try:
                checked = run.check_queries()
            except Exception as e:
                checked = 1
                run.fail(f"check: {type(e).__name__}: {str(e)[:300]}")
        result.update({
            "attempted": attempted + checked,
            "failed": run.failed,
            "errors": run.errors[:20],
            "e2e": {
                "wall_s": wall,
                "query_p50_s": stats.percentile(run.latencies, 0.5),
                "query_p80_s": stats.percentile(run.latencies, 0.8, min_beyond=10),
                "cdc_s": cdc,
                "peak_mem_mb": sum(v for _, v in peaks) + stats.peak_rss_mb(workers),
            },
            "layers": {
                "python.worker_cpu_s": w1 - w0,
                "python.driver_cpu_s": (cpu1.user + cpu1.system) - (cpu0.user + cpu0.system),
                "jvm.peak_rss_mb": stats.peak_rss_mb([run.jvm_pid]),
                "jvm.heap_peak_mb": heap,
                "jvm.reaped_child_cpu_s": j1 - j0,
                **run.parts,
            },
        })
        if a.trace:
            result["layers"].update(run.layer_metrics(counts, wall))
            result["spans"] = run.tracer.dump()
        else:
            run.spark.stop()
    except Exception:
        result["fatal"] = traceback.format_exc()[-3000:]
    Path(a.out).write_text(json.dumps(result, default=lambda x: None))
    return 0 if "fatal" not in result else 1


if __name__ == "__main__":
    sys.exit(main())
