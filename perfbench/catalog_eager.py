"""`catalog_eager`: a closed loop over catalog queries whose DataFrame
construction runs Spark jobs (eager build), each materialized through
the noop sink, on the repository's pinned tables: `tools/gen_scale_data.py`
(fixed seed, so the same tables on every run) at SCALE, generated into
the run directory and only read from then on.

One untimed pass first collects every result and checks it against the
query's DuckDB oracle (row count, columns, values), or its row count
where the catalog keeps no oracle; the timed passes follow.
"""

from __future__ import annotations

import subprocess
import sys
import time
from pathlib import Path

from sparkstats import group_job_counts, job_counters, python_counters, quantile

# query -> the table whose rows it reads (for rows_per_s)
QUERIES = {
    "patterndb_chain_context": "events",
    "dup_clusters": "documents",
    "multimodal_image": "documents",
}
WARMUP_QUERY = "journal_parse"
# scale factor of the pinned tables: events 10,000 rows, documents 500,
# embeddings 500 (sf0.1 passes are too long for the run budget)
SCALE, SMOKE_SCALE = "0.01", "0.001"
MIN_PASSES = 3


def canonical(pdf):
    """Columns by name, values as text (floats to 9 places), rows sorted."""
    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:
        if pdf[c].dtype.kind == "f":
            pdf[c] = pdf[c].round(9)
        pdf[c] = pdf[c].astype(str)
    return pdf.sort_values(list(pdf.columns), kind="mergesort").reset_index(drop=True)


def mismatch(spark_pdf, oracle_pdf) -> str | None:
    if len(spark_pdf) != len(oracle_pdf):
        return f"rows {len(spark_pdf)} != oracle {len(oracle_pdf)}"
    if sorted(spark_pdf.columns) != sorted(oracle_pdf.columns):
        return f"columns {sorted(spark_pdf.columns)} != oracle {sorted(oracle_pdf.columns)}"
    a, b = canonical(spark_pdf), canonical(oracle_pdf)
    for c in a.columns:
        if spark_pdf[c].dtype.kind == "f" or oracle_pdf[c].dtype.kind == "f":
            x, y = a[c].astype(float), b[c].astype(float)
            bad = ~((x.isna() & y.isna()) | ((x - y).abs() < 1e-6))
        else:
            bad = a[c] != b[c]
        if bad.any():
            return f"column {c}: {int(bad.sum())} values differ"
    return None


class CatalogEager:
    def __init__(self, work: Path, seed: int, seconds: float, smoke: bool, trace: bool):
        self.work, self.seed, self.seconds, self.trace = work, seed, seconds, trace
        self.scale = SMOKE_SCALE if smoke else SCALE
        self.data = work / "tables"

    def prepare(self) -> None:
        import pyarrow.parquet as pq

        subprocess.run([sys.executable, "tools/gen_scale_data.py", self.scale, str(self.data)],
                       check=True, stdout=subprocess.DEVNULL)
        self.table_rows = {t: pq.read_metadata(self.data / f"{t}.parquet").num_rows
                           for t in set(QUERIES.values())}

    def warmup(self, spark) -> None:
        from syslog_ng_spark.catalog import QUERIES as CATALOG

        CATALOG[WARMUP_QUERY](spark, str(self.data)).write.format("noop").mode("overwrite").save()

    def verify(self, spark) -> tuple[int, dict]:
        """Untimed pass: every result against its oracle. Returns the
        number of failed queries and per-query rows/problem."""
        import duckdb

        from syslog_ng_spark.catalog import ORACLES
        from syslog_ng_spark.catalog import QUERIES as CATALOG

        con = duckdb.connect()
        for f in self.data.glob("*.parquet"):
            con.execute(f"CREATE VIEW {f.stem} AS SELECT * FROM read_parquet('{f}')")
        failed, detail = 0, {}
        for q, table in QUERIES.items():
            got = CATALOG[q](spark, str(self.data)).toPandas()
            spark.catalog.clearCache()
            if q in ORACLES:
                problem = mismatch(got, con.execute(ORACLES[q]).df())
            elif len(got) != self.table_rows[table]:
                problem = f"rows {len(got)} != {table} rows {self.table_rows[table]}"
            else:
                problem = None
            failed += problem is not None
            detail[q] = {"rows": len(got), "problem": problem,
                         "oracle": q in ORACLES}
        con.close()
        return failed, detail

    def measure(self, spark) -> dict:
        from syslog_ng_spark.catalog import QUERIES as CATALOG

        failed, checks = self.verify(spark)
        sc = spark.sparkContext
        since_ms = int(time.time() * 1000)
        passes: list[dict] = []
        ops = 0
        # at least MIN_PASSES: the first timed pass still runs 5-20%
        # slower than the next, and the median of 2 would include it
        while len(passes) < MIN_PASSES or sum(p["wall"] for p in passes) < self.seconds:
            i = len(passes)
            rec = {"wall": 0.0, "q": {}}
            for q in QUERIES:
                ops += 1
                sc.setJobGroup(f"b:{i}:{q}", q)
                t0 = time.perf_counter()
                try:
                    df = CATALOG[q](spark, str(self.data))
                    t1 = time.perf_counter()
                    if self.trace:
                        df._jdf.queryExecution().executedPlan()
                    t2 = time.perf_counter()
                    sc.setJobGroup(f"e:{i}:{q}", q)
                    df.write.format("noop").mode("overwrite").save()
                except Exception as exc:  # noqa: BLE001 - a failed query is counted, not fatal
                    failed += 1
                    checks.setdefault("errors", []).append(f"{q}: {str(exc)[:200]}")
                    t1 = t2 = time.perf_counter()
                t3 = time.perf_counter()
                spark.catalog.clearCache()
                rec["q"][q] = {"build": t1 - t0, "plan": t2 - t1, "exec": t3 - t2, "wall": t3 - t0}
                rec["wall"] += t3 - t0
            passes.append(rec)

        walls = [p["wall"] for p in passes]
        # each query's median wall over the passes, then quantiles over
        # the queries: a stable ranking of queries gives stable quantiles
        per_query = [quantile([p["q"][q]["wall"] for p in passes], 0.5) for q in QUERIES]
        rows_per_pass = sum(self.table_rows[t] for t in QUERIES.values())
        m = {
            "rows_per_s": rows_per_pass / quantile(walls, 0.5),
            "latency_p50_s": quantile(per_query, 0.5),
            "latency_p90_s": quantile(per_query, 0.9),
            "wall_s": quantile(walls, 0.5),
            "samples": len(per_query),
        }
        if self.trace:
            jobs = group_job_counts(spark)
            n = len(passes)
            for part in ("build", "plan", "exec"):
                m[f"catalog.{part}_s"] = quantile(
                    [sum(r[part] for r in p["q"].values()) for p in passes], 0.5)
            for q in QUERIES:
                m[f"catalog.{q}.build_s"] = quantile([p["q"][q]["build"] for p in passes], 0.5)
                m[f"catalog.{q}.exec_s"] = quantile([p["q"][q]["exec"] for p in passes], 0.5)
                m[f"catalog.{q}.build_jobs"] = sum(jobs.get(f"b:{i}:{q}", 0) for i in range(n)) / n
            m["build_s"], m["exec_s"] = m["catalog.build_s"], m["catalog.exec_s"]
            m["sinks.rows_written"] = sum(checks[q]["rows"] for q in QUERIES)
            m["catalog.build_jobs"] = sum(v for k, v in jobs.items() if k.startswith("b:")) / n
            m["catalog.exec_jobs"] = sum(v for k, v in jobs.items() if k.startswith("e:")) / n
            groups = {g for g in jobs if g[:2] in ("b:", "e:")}
            counters = job_counters(spark, groups)
            counters.update(python_counters(spark, since_ms))
            m.update({k: v / n for k, v in counters.items()})
        return {"metrics": m, "attempted": ops + len(QUERIES),
                "failed": failed, "detail": {"checks": checks, "pass_walls_s": walls}}
