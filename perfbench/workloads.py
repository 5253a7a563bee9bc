"""The benchmark's workloads. Each operation is what a user of the engine
runs; ``check`` verifies its output and ``layers`` (traced runs only)
splits it across the package's modules with prefix actions.

A prefix action runs a leading part of the operation's plan (e.g. only
the scans) into a noop sink; a layer's self time is its prefix time minus
the previous prefix's. Differences of separate timings can come out
slightly negative when a layer is cheap; they are reported as measured.
"""

from __future__ import annotations

import functools
import os
import statistics
import time
from contextlib import nullcontext

from perfbench import checks, inputs
from perfbench.probe import Plan, noop_sink

# Per-layer metrics (traced runs) and their units. A layer that does not
# run on a workload reports 0.
LAYER_METRICS = {
    "session.get_spark_s": "s",
    "pipeline.build_s": "s",
    "spark.plan_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.idle_core_frac": "ratio",
    "sources.readers.scan_s": "s",
    "sources.readers.bytes_read": "B",
    "sources.readers.rows_per_s": "rows/s",
    "operators.relational.self_s": "s",
    "operators.relational.shuffle_bytes": "B",
    "operators.relational.broadcast_joins": "count",
    "operators.windows.self_s": "s",
    "operators.windows.sorts": "count",
    "operators.windows.shuffle_bytes": "B",
    "operators.windows.spill_bytes": "B",
    "pipeline.filter_distinct_s": "s",
    "sources.writers.self_s": "s",
    "sources.writers.bytes_written": "B",
    "sources.writers.files": "count",
    "functions.text.shingle_s": "s",
    "operators.dedup.prefix_filter_s": "s",
    "operators.dedup.minhash_lsh_s": "s",
    "operators.dedup.keep_first_s": "s",
    "operators.dedup.candidate_pairs": "count",
    "operators.dedup.verified_pairs": "count",
    "operators.dedup.verify_yield": "ratio",
    "operators.packing.self_s": "s",
    "operators.packing.fill_ratio": "ratio",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_bytes": "B",
    "spark.shuffle_read_bytes": "B",
    "spark.shuffle_records": "count",
    "spark.spill_disk_bytes": "B",
    "spark.spill_memory_bytes": "B",
}


def _dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, data files) under an output directory."""
    total = files = 0
    for d, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(d, n))
            files += n.startswith("part-")
    return total, files


class Workload:
    """Shared state of one run. ``tracer`` is ``None`` in untraced runs:
    then no span, plan read or prefix action happens. Operations
    ``-warmup_ops`` .. -1 are the untimed ones that end set-up; timed
    operations count up from 0."""

    def __init__(self, spark, man: dict, con, tracer, counters, out_root: str):
        self.spark, self.man, self.con = spark, man, con
        self.tracer, self.counters, self.out_root = tracer, counters, out_root

    def span(self, name: str, op_id: int):
        return self.tracer.span(name, op_id) if self.tracer else nullcontext()

    def wrap(self, module, name: str, layer: str, captured: dict) -> None:
        """Replace ``module.name`` by a wrapper that records a span around
        each call and keeps the returned frame for prefix actions."""
        fn = getattr(module, name)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.tracer.span(f"{layer}.{name}", self.op_id):
                out = fn(*args, **kwargs)
            captured[name] = out
            return out

        setattr(module, name, traced)

    def plan(self, df, op_id: int) -> None:
        """Traced runs force the physical plan in its own span; the action
        that follows reuses it."""
        if self.tracer:
            with self.span("spark.plan", op_id):
                df._jdf.queryExecution().executedPlan()

    def timed_prefix(self, df) -> tuple[float, "Plan"]:
        t0 = time.perf_counter()
        fresh = noop_sink(df)
        return time.perf_counter() - t0, Plan(fresh)

    def out_path(self, op_id: int) -> str:
        return os.path.join(self.out_root, f"op{op_id}")


class CohortInteractive(Workload):
    """One client, closed loop: the seeded CLI-equivalent query sequence
    over the reference-scale model, scanned from CSV; each result is
    collected to the driver."""

    sink = "collect"
    # Query walls of a fresh JVM fall steeply over its first ten queries,
    # while the JIT compiles the planner's hot paths, and only slowly
    # after; timing starts there.
    warmup_ops = 10

    def __init__(self, *args):
        super().__init__(*args)
        self.op_id = None
        self.oracle = checks.CohortOracle(self.con, self.man["dir"])
        self.queries = inputs.interactive_queries(self.man["seed"], self.man["groups"])
        self.captured: dict = {}
        if self.tracer:
            from datamodel_clinicaldata_spark import pipeline

            for name, layer in (
                ("load_clinical_tables", "sources.readers"),
                ("assemble_star", "operators.relational"),
                ("rename_columns", "operators.relational"),
                ("with_cohort_metrics", "operators.windows"),
                ("distinct_rows", "operators.relational"),
            ):
                self.wrap(pipeline, name, layer, self.captured)

    def op(self, op_id: int) -> dict:
        from datamodel_clinicaldata_spark.pipeline import data_pipeline

        self.op_id = op_id
        q = self.queries[op_id + self.warmup_ops]
        with self.span("pipeline.build", op_id):
            df = data_pipeline(self.spark, self.man["dir"], **q)
        self.plan(df, op_id)
        with self.span("sink", op_id):
            pdf = df.toPandas()
        return {"q": q, "df": df, "pdf": pdf, "rows_in": self.man["fact_rows"]}

    def check(self, state: dict) -> str | None:
        return self.oracle.rows(state["q"], state["df"].columns, checks.frame_rows(state.pop("pdf")))

    def layers(self, state: dict) -> tuple[dict, list]:
        """Layer metrics of one traced operation and its accounting rows.
        The collect's time splits by prefix into scan → star join + rename
        → window metrics → filter + distinct → the transfer to the driver."""
        tr = self.tracer
        spans = [s for s in tr.spans if s["op"] == self.op_id]
        dur = {s["name"]: tr.duration(s) for s in spans}
        tables = self.captured["load_clinical_tables"]
        scan_s, scan_bytes, scan_rows = 0.0, 0, 0
        for t in tables.values():
            s, p = self.timed_prefix(t)
            scan_s += s
            scan_bytes += p.scan_bytes()
            scan_rows += sum(p.metric(n, "numOutputRows") for n in p.nodes if n.nodeName().startswith("Scan "))
        marks = {}
        for key in ("rename_columns", "with_cohort_metrics"):
            m = self.counters.mark()
            s, p = self.timed_prefix(self.captured[key])
            marks[key] = (s, p, self.counters.since(m))
        full_s, _ = self.timed_prefix(state["df"])
        rel_s, rel_p, rel_m = marks["rename_columns"]
        win_s, win_p, win_m = marks["with_cohort_metrics"]
        lm = {
            "pipeline.build_s": dur["pipeline.build"],
            "spark.plan_s": dur["spark.plan"],
            "sources.readers.scan_s": scan_s,
            "sources.readers.bytes_read": scan_bytes,
            "sources.readers.rows_per_s": scan_rows / scan_s,
            "operators.relational.self_s": rel_s - scan_s,
            "operators.relational.shuffle_bytes": rel_m["shuffle_write_bytes"],
            "operators.relational.broadcast_joins": rel_p.count("BroadcastHashJoin"),
            "operators.windows.self_s": win_s - rel_s,
            "operators.windows.sorts": win_p.count("Sort") - rel_p.count("Sort"),
            "operators.windows.shuffle_bytes": win_m["shuffle_write_bytes"] - rel_m["shuffle_write_bytes"],
            "operators.windows.spill_bytes": (win_m["spill_disk_bytes"] + win_m["spill_memory_bytes"])
            - (rel_m["spill_disk_bytes"] + rel_m["spill_memory_bytes"]),
            "pipeline.filter_distinct_s": full_s - win_s,
        }
        sink_rows = [
            ("sources.readers scan", scan_s),
            ("operators.relational star join + rename", rel_s - scan_s),
            ("operators.windows metrics", win_s - rel_s),
            ("pipeline filter + distinct", full_s - win_s),
            ("collect to driver", dur["sink"] - full_s),
        ]
        return lm, sink_rows


class CorpusDedup(Workload):
    """Near-duplicate pairs by prefix filtering and by MinHash LSH on one
    corpus, then exact dedup + packing (``curate_documents``) written as
    parquet."""

    sink = "write"
    # A fresh JVM's second operation still runs ~1.3 s slower than later
    # ones; timing starts after it.
    warmup_ops = 2

    def __init__(self, *args):
        super().__init__(*args)
        self.op_id = None
        self.captured: dict = {}
        self.pair_check = checks.PairCheck(self.man)
        if self.tracer:
            from datamodel_clinicaldata_spark import curate

            self.wrap(curate, "dedup_keep_first", "operators.dedup", self.captured)
            self.wrap(curate, "quota_chunk_bins", "operators.packing", self.captured)

    def op(self, op_id: int) -> dict:
        from datamodel_clinicaldata_spark.curate import curate_documents
        from datamodel_clinicaldata_spark.operators.dedup import (
            minhash_lsh_pairs,
            prefix_filtered_jaccard_pairs,
        )
        from datamodel_clinicaldata_spark.sources.readers import read_table
        from datamodel_clinicaldata_spark.sources.writers import write_parquet

        self.op_id = op_id
        out = self.out_path(op_id)
        with self.span("sources.readers.read_table", op_id):
            docs = read_table(self.spark, self.man["dir"], "documents")
        with self.span("operators.dedup.prefix_filtered_jaccard_pairs", op_id):
            pf = prefix_filtered_jaccard_pairs(docs, "text", "doc_id", k=inputs.K, threshold=inputs.TAU)
            self.plan(pf, op_id)
            pf_rows = pf.collect()
        with self.span("operators.dedup.minhash_lsh_pairs", op_id):
            held: list = []
            mh = minhash_lsh_pairs(
                docs, "text", "doc_id", k=inputs.K, num_hashes=128, bands=64,
                threshold=inputs.TAU, persist_into=held,
            )
            self.plan(mh, op_id)
            mh_rows = mh.collect()
            for h in held:
                h.unpersist()
        with self.span("curate.curate_documents", op_id):
            cur = curate_documents(
                docs, min_tokens=inputs.MIN_TOKENS, max_tokens=inputs.MAX_TOKENS, budget=inputs.BUDGET
            )
        self.plan(cur, op_id)
        with self.span("sink", op_id):
            write_parquet(cur, out)
        return {
            "docs": docs, "pf": pf, "mh": mh, "df": cur, "out": out,
            "pf_rows": pf_rows, "mh_rows": mh_rows, "rows_in": self.man["fact_rows"],
        }

    def check(self, state: dict) -> str | None:
        state["out_bytes"] = _dir_bytes(state["out"])[0]
        return self.pair_check(state["pf_rows"], state["mh_rows"]) or checks.curated(self.man, state["out"])

    def layers(self, state: dict) -> tuple[dict, list]:
        """The curate write splits by prefix into scan → tokenize, screen and
        exact dedup → packing → payload join → the writer itself. Shingling
        (the MinHash projection) is timed as its own prefix."""
        from pyspark.sql import functions as F

        from datamodel_clinicaldata_spark.functions.text import word_shingles
        from datamodel_clinicaldata_spark.operators.dedup import minhash_signature

        tr = self.tracer
        spans = [s for s in tr.spans if s["op"] == self.op_id]
        dur = {s["name"]: tr.duration(s) for s in spans}
        self_t = {s["name"]: tr.self_time(s) for s in spans}
        docs = state["docs"]
        scan_s, scan_p = self.timed_prefix(docs)
        text = F.col("text")
        sh_s, _ = self.timed_prefix(
            docs.select(
                F.array_distinct(word_shingles(text, inputs.K)).alias("shingles"),
                minhash_signature(text, inputs.K, 128).alias("sig"),
            )
        )
        keep_s, _ = self.timed_prefix(self.captured["dedup_keep_first"])
        pack_s, _ = self.timed_prefix(self.captured["quota_chunk_bins"])
        cur_s, _ = self.timed_prefix(state["df"])
        cand = 0
        for key in ("pf", "mh"):
            joins = Plan(state[key]).joins()
            # The two verification joins are the topmost joins; the lower
            # one takes every distinct candidate pair once.
            cand += Plan.metric(joins[1], "numOutputRows")
        verified = len(state["pf_rows"]) + len(state["mh_rows"])
        out_bytes, files = _dir_bytes(state["out"])
        lm = {
            "spark.plan_s": sum(tr.duration(s) for s in spans if s["name"] == "spark.plan"),
            "sources.readers.scan_s": scan_s,
            "sources.readers.bytes_read": scan_p.scan_bytes(),
            "sources.readers.rows_per_s": self.man["fact_rows"] / scan_s,
            "functions.text.shingle_s": sh_s - scan_s,
            "operators.dedup.prefix_filter_s": self_t["operators.dedup.prefix_filtered_jaccard_pairs"],
            "operators.dedup.minhash_lsh_s": self_t["operators.dedup.minhash_lsh_pairs"],
            "operators.dedup.keep_first_s": keep_s - scan_s,
            "operators.dedup.candidate_pairs": cand,
            "operators.dedup.verified_pairs": verified,
            "operators.dedup.verify_yield": verified / cand if cand else 0.0,
            "operators.packing.self_s": pack_s - keep_s,
            "operators.packing.fill_ratio": checks.fill_ratio(state["out"]),
            "sources.writers.self_s": dur["sink"] - cur_s,
            "sources.writers.bytes_written": out_bytes,
            "sources.writers.files": files,
        }
        sink_rows = [
            ("sources.readers scan", scan_s),
            ("operators.dedup tokenize + screen + keep_first", keep_s - scan_s),
            ("operators.packing quota_chunk_bins", pack_s - keep_s),
            ("curate payload join", cur_s - pack_s),
            ("sources.writers write_parquet", dur["sink"] - cur_s),
        ]
        return lm, sink_rows


WORKLOADS = {
    "cohort_interactive": (CohortInteractive, 4000),
    "corpus_dedup": (CorpusDedup, 2000),
}


def median_layers(per_op: list[dict]) -> dict:
    """Each layer metric's median over the traced operations (0 where the
    layer did not run)."""
    return {
        k: statistics.median([m.get(k, 0) for m in per_op]) if per_op else 0
        for k in LAYER_METRICS
    }
