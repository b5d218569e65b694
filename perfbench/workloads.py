"""The two workloads: what one operation is, how it is set up, timed
and checked.

Each operation is timed by the benchmark around calls into the
engine's public functions; with tracing on, the same calls are also
wrapped in spans (``queries.build`` / ``catalyst.plan`` /
``exec.action`` for registry queries, the pipeline's stage functions
for ctgov_etl).
"""

from __future__ import annotations

import json
import os
import time

from perfbench import check, data, transport

# The curation workload's queries: text, dedup, similarity and quality
# queries that are shuffle- and JVM-heavy, media decoders that cross
# the Python boundary in short mapInPandas stages, and one stream
# query.  The list is cut from the full query families so that a run,
# with its JVM start and three set-ups, stays near a minute on a
# 4-core host.
CURATION = (
    "text_langid_quality",
    "quality_linear_score",
    "dedup_exact_group",
    "sim_topk_bruteforce",
    "stream_run_decontam",
    "mm_decode_jpeg",
    "doc_pdf_meta",
)

# Fixed query -> engine module map behind the per-module wall times.
MODULE_OF = {
    "text_langid_quality": "functions.text",
    "quality_linear_score": "operators.quality",
    "dedup_exact_group": "operators.dedup",
    "sim_topk_bruteforce": "operators.similarity",
    "stream_run_decontam": "operators.decontam",
    "mm_decode_jpeg": "operators.multimodal",
    "doc_pdf_meta": "operators.multimodal",
}

N_STUDIES = 2000
PAGE_SIZE = 1000
LLM_DELAY_S = 0.0005


def warm_up(spark) -> None:
    """One JVM job and one Python-worker job, so the first timed
    operation does not pay for starting executors or workers."""
    import pandas as pd

    spark.range(1000).selectExpr("sum(id)").collect()

    def ident(batches):
        for b in batches:
            yield pd.DataFrame({"id": b["id"]})

    spark.range(100).mapInPandas(ident, "id long").collect()


class QueryWorkload:
    """Registry queries over the seeded parquet tables; an operation is
    one query: build, plan (traced only), ``collect()``."""

    def __init__(self, queries, seed: int, data_dir: str):
        from ctgov_ai_etl_spark.queries import load_all

        self.queries, self.data_dir = tuple(queries), data_dir
        data.write_tables(seed, self.data_dir)
        self.registry = load_all()
        self.results: dict[str, list] = {q: [] for q in self.queries}

    def setup(self, spark) -> None:
        from ctgov_ai_etl_spark.session import ship_package
        from ctgov_ai_etl_spark.tables import ensure_session_confs

        ensure_session_confs(spark)
        ship_package(spark)
        warm_up(spark)

    def ops(self, rng) -> list[str]:
        order = list(self.queries)
        rng.shuffle(order)
        return order

    def run_op(self, spark, name: str, tracer, traced: bool) -> tuple[float, dict]:
        spec = self.registry[name]
        t0 = time.perf_counter()
        with tracer.span("queries.build", query=name):
            df = spec.fn(spark, self.data_dir)
        plan = None
        if traced:
            with tracer.span("catalyst.plan", query=name):
                plan = df._jdf.queryExecution().executedPlan()
        with tracer.span("exec.action", query=name):
            rows = df.collect()
        took = time.perf_counter() - t0
        info = {"rows": rows, "schema": df.schema}
        if plan is not None:
            info["plan_lines"] = len(plan.toString().splitlines())
        return took, info

    def record(self, name: str, info: dict, co) -> None:
        cols = [f.name for f in info["schema"].fields]
        types = [co.type_family(f.dataType.simpleString()) for f in info["schema"].fields]
        self.results[name].append((cols, types, co.canon_rows(cols, [tuple(r) for r in info["rows"]])))

    def failures(self, co) -> tuple[int, list[str]]:
        """(failed operations, messages) over every recorded result."""
        from ctgov_ai_etl_spark.schemas import TABLE_NAMES

        con = check.duck_with_views(self.data_dir, [t for t in TABLE_NAMES if t in data.TABLES])
        failed, notes = 0, []
        for q, results in self.results.items():
            verdicts: dict[tuple, list[str]] = {}
            for cols, types, canon in results:
                key = (tuple(cols), tuple(types), tuple(canon))
                if key not in verdicts:
                    verdicts[key] = check.oracle_problems(
                        co, con, self.registry[q].oracle, cols, types, canon
                    )
                if verdicts[key]:
                    failed += 1
                    notes.append(f"{q}: {verdicts[key][0]}")
        con.close()
        return failed, notes


class CtgovWorkload:
    """The reference pipeline: token-paged REST extract, flatten, one
    LLM call per row, reference-shaped CSV.  An operation is one
    ``run_pipeline`` call with a CSV path."""

    def __init__(self, seed: int, dirs: dict):
        self.seed, self.dirs = seed, dirs
        self.corpus = [data.make_study(seed, i) for i in range(N_STUDIES)]
        self.csvs: list[str] = []
        self.counts: list[dict] = []  # per operation: LLM calls and wait, pages
        self.rows: list[int] = []

    def cfg(self, paging: str = "token", delay_s: float = LLM_DELAY_S) -> dict:
        args = [self.seed, N_STUDIES, self.dirs["counts"], paging == "indexed"]
        return {
            "ctgov": {
                "transport_factory": "perfbench.transport:paged_transport",
                "transport_args": json.dumps(args),
                "page_size": PAGE_SIZE,
                "paging": paging,
            },
            "gemini": {
                "client_factory": "perfbench.transport:sleeping_client",
                "row_prompt_template": "Criteria: {criteria}",
                "delay_s": delay_s,
                "count_dir": self.dirs["counts"],
            },
            "ai_processing": {"enabled": True, "column_name": "ai_determined_value"},
        }

    def setup(self, spark) -> None:
        from ctgov_ai_etl_spark.sources import rest
        from ctgov_ai_etl_spark.tables import ensure_session_confs

        ensure_session_confs(spark)
        rest.register(spark)
        warm_up(spark)

    def ops(self, rng) -> list[str]:
        return ["run_pipeline"]

    def run_op(self, spark, name: str, tracer, traced: bool) -> tuple[float, dict]:
        from ctgov_ai_etl_spark.plans.pipeline import run_pipeline

        path = os.path.join(self.dirs["out"], f"pass{len(self.csvs)}.csv")
        before = self.read_counts()
        t0 = time.perf_counter()
        with tracer.span("run_pipeline"):
            run_pipeline(spark, self.cfg(), csv_path=path)
        took = time.perf_counter() - t0
        after = self.read_counts()
        self.counts.append({k: after[k] - before[k] for k in after})
        return took, {"csv": path}

    def read_counts(self) -> dict[str, float]:
        calls, wait_s = transport.read_counts(self.dirs["counts"], "llm")
        pages, _ = transport.read_counts(self.dirs["counts"], "pages")
        return {"llm_calls": calls, "llm_wait_s": wait_s, "pages": pages}

    def record(self, name: str, info: dict, co) -> None:
        self.csvs.append(info["csv"])

    def failures(self, co) -> tuple[int, list[str]]:
        header, rows = check.ctgov_expected(self.corpus)
        failed, notes = 0, []
        for path in self.csvs:
            got_header, got = check.read_csv(path)
            self.rows.append(len(got))
            if (got_header, got) != (header, rows):
                failed += 1
                notes.append(f"{os.path.basename(path)}: {len(got)} rows differ from the replay")
        return failed, notes


def make(name: str, seed: int, dirs: dict):
    if name == "ctgov_etl":
        return CtgovWorkload(seed, dirs)
    return QueryWorkload(CURATION, seed, dirs["data"])
