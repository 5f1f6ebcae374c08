"""corpus_analytics: read-only batch queries from the query registry.

A pass runs the metadata group, then the pipeline group, each query
planned, collected and fingerprinted inside the timed op; its
``release_cached()`` runs after the op.  The DuckDB oracle fingerprints
come from the same parquet files before the timed passes.
"""

from __future__ import annotations

import os
import statistics
import time

import corpus

METADATA = (
    "a2_group_argmax a3_sum_per_parent a6_having_under_threshold j5_anti_stored "
    "j5_corrupt_classify h2_path_column h_du_rollup f7_block_locations "
    "u_lease_recovery_append u4_lww_merge w2_topk_per_group t1_expired_threshold "
    "q1_pricing_summary q3_unshipped_revenue q5_nation_revenue events_latest_per_user"
).split()
PIPELINE = (
    "text_quality_ratios text_tfidf_top_terms dedup_minhash_lsh sim_topk_bruteforce "
    "sim_topk_quantized pipeline_quality_rules"
).split()


class CorpusAnalytics:
    def __init__(self, bench):
        self.b = bench
        self.plan_s: dict[str, list[float]] = {q: [] for q in METADATA + PIPELINE}
        self.exec_s: dict[str, list[float]] = {q: [] for q in METADATA + PIPELINE}
        self.suite_s: dict[str, list[float]] = {"metadata": [], "pipeline": []}

    def generate(self) -> None:
        """Write the seeded corpus (input generation, not timed)."""
        self.data = os.path.join(self.b.work, "corpus")
        corpus.generate(self.data, self.b.seed)

    def load(self) -> None:
        """Load the corpus tables through the catalog (timed set-up)."""
        from adfs_spark import catalog

        catalog.load_all(self.b.spark, self.data, tuple(corpus.TABLES))

    def setup(self) -> None:
        from adfs_spark import queries

        self.q = queries
        oracle = corpus.Oracle(self.data)
        try:
            self.expected = {n: oracle.fingerprint(queries.QUERIES[n][1])
                             for n in METADATA + PIPELINE}
        finally:
            oracle.close()
        self.b.tracer.wrap(queries, "load_table", "catalog.load_table")

    def run_pass(self, k: int) -> None:
        b, reg = self.b, self.q.QUERIES
        for group, names in (("metadata", METADATA), ("pipeline", PIPELINE)):
            total = 0.0
            for name in names:
                fn = reg[name][0]
                plan: list[float] = []

                def query(fn=fn, plan=plan):
                    t0 = time.perf_counter()
                    df = fn(b.spark, self.data)
                    plan.append(time.perf_counter() - t0)
                    rows = df.collect()
                    return corpus.fingerprint(rows, df.columns)

                o = b.op(name, "read", query, lambda r, name=name: r == self.expected[name],
                         after=lambda _: self.q.release_cached())
                total += o.seconds
                if plan:
                    self.plan_s[name].append(plan[0])
                    self.exec_s[name].append(o.seconds - plan[0])
            self.suite_s[group].append(total)

    def final_check(self) -> int:
        return 0

    def layer_metrics(self) -> dict[str, float]:
        b, t = self.b, self.b.tracer
        med = lambda xs: statistics.median(xs) if xs else 0.0
        m: dict[str, float] = {}
        passes = max(len(self.suite_s["metadata"]), 1)
        m["catalog.load_ms"] = 1000 * t.totals("catalog.load_table")[1] / passes
        m["queries.plan_s"] = sum(sum(v) for v in self.plan_s.values()) / passes
        for name in METADATA + PIPELINE:
            m[f"queries.{name}.plan_ms"] = 1000 * med(self.plan_s[name])
            m[f"queries.{name}.exec_s"] = med(self.exec_s[name])
        m["spark.jobs_per_query"] = b.mean([o.jobs for o in b.ops])
        return m

    def report_lines(self) -> list[str]:
        b = self.b
        lines = []
        for group in ("metadata", "pipeline"):
            xs = self.suite_s[group]
            lines.append(f"{group}_suite_s: {statistics.median(xs) if xs else 0:.4f} s "
                         f"(median of {len(xs)} passes)")
        for name in METADATA + PIPELINE:
            lines.append(b.latency_line(name, [o for o in b.ops if o.kind == name]))
        return lines
