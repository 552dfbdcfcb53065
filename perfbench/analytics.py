"""analytics: the query operators over plain parquet, to the noop sink.

Reads the ten seeded sf0.1 tables; storage and the commit log do no work.
``ANALYTICS_IDS`` is the fixed list of 78 ids this workload stands for:
``bench.py``'s headline ids that are not in ``operators/versioned.py``.
One run has time for ``TIMED_IDS`` only: at least one id from each of
the eight operator modules the 78 ids use. Each timed round runs every
timed id once, in a fixed order; the seed drives the tables.

Set-up writes the tables three times (the median counts) and runs each
timed id once, cold, collecting its rows as Arrow; the timed runs reuse
the compiled stages of that plan and end in the noop sink instead. After
the timed window the collected rows are checked against the id's DuckDB
oracle where it has one (the order-insensitive hash of
``checks.digest``; where the hashes differ, only by
``checks.rounding_ties``), otherwise for rows > 0.
"""

from __future__ import annotations

import os
import shutil
import sys

import datagen
from checks import digest, rounding_ties
from harness import Run, median_setup

SF = 0.1
ANALYTICS_IDS = (
    "q_scan_parquet", "q_filter_eq", "q_agg_hash", "q_agg_distinct",
    "q_join_inner", "q_join_left", "q_tpch_q1", "q_tpch_q3", "q_tpch_q5",
    "q_tpch_q9", "q_tpch_q18", "q_tpch_q2", "q_tpch_q21", "q_asof_join",
    "q_range_join", "q_window_rank", "q_window_running", "q_topk",
    "q_rollup", "q_udf_pandas", "q_dedup_exact", "q_text_stats",
    "q_token_count", "q_fingerprint", "q_sim_search", "q_dedup_ngram",
    "q_dedup_embedding", "q_dedup_minhash", "q_chunk_docs",
    "q_sample_stratified", "q_embed_quantize", "q_pii_redact",
    "q_contamination", "q_repetition", "q_tfidf", "q_bm25", "q_sim_ann_lsh",
    "q_kmeans", "q_semdedup", "q_lm_score", "q_pack_sequences",
    "q_shuffle_shards", "q_knn_join", "q_json_funcs", "q_anomaly",
    "q_session_window", "q_dedup_incremental", "q_dedup_paragraph",
    "q_grouping_sets", "q_scd2", "q_retention", "q_ngram_topk",
    "q_domain_mix", "q_text_normalize", "q_quality_bucket", "q_sim_ann_pq",
    "q_multimodal_audio", "q_dedup_substring", "q_dedup_fuzzy",
    "q_dedup_containment", "q_entropy", "q_asof_tolerance", "q_window_ntile",
    "q_top_p_quality", "q_resample_locf", "q_regexp_funcs", "q_interval_join",
    "q_pmi_bigrams", "q_winsorize", "q_exists_subquery", "q_lateral_join",
    "q_hard_negatives", "q_mad_outliers", "q_resample_interp",
    "q_pareto_frontier", "q_not_in_null", "q_quality_ensemble",
    "q_string_agg",
)
# One id per module, and a second relational one, of like warm cost
# (0.6-0.9 s at 4 cores, sf0.1) where the module has one: the median op
# latency of a round then falls among several ids, not in a gap between
# cheap and costly ones. q_pmi_bigrams and q_lm_score keep the size-gated
# plans in the mix.
TIMED_IDS = (
    "q_grouping_sets",      # relational
    "q_window_running",     # relational
    "q_tpch_q1",            # tpch
    "q_anomaly",            # analytic
    "q_pmi_bigrams",        # text (two plan shapes behind a size gate)
    "q_knn_join",           # similarity
    "q_semdedup",           # dedup
    "q_lm_score",           # cleaning (size-gated checkpoint)
    "q_multimodal_audio",   # multimodal
)
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def registry() -> tuple[dict, dict, dict]:
    """``(queries, oracles, module of each id)`` for the 78 ids."""
    from table_versions_spark.operators import (
        analytic, cleaning, dedup, multimodal, relational, similarity, text,
        tpch)

    queries, oracles, module = {}, {}, {}
    for mod in (analytic, cleaning, dedup, multimodal, relational,
                similarity, text, tpch):
        short = mod.__name__.rsplit(".", 1)[-1]
        for qid, fn in mod.QUERIES.items():
            if qid in ANALYTICS_IDS:
                queries[qid], module[qid] = fn, short
        oracles.update({k: v for k, v in mod.ORACLES.items()
                        if k in ANALYTICS_IDS})
    missing = set(ANALYTICS_IDS) - set(queries)
    if missing:
        raise KeyError(f"analytics ids not registered: {sorted(missing)}")
    return queries, oracles, module


class Analytics:
    def __init__(self, spark, tracer, seed: int, work: str):
        self.spark, self.seed = spark, seed
        self.queries, self.oracles, self.module = registry()
        self.sf_dir = os.path.join(work, "sf0.1")
        self.rows: dict[str, tuple | None] = {}

    def setup(self) -> tuple[float, float]:
        def build(_i: int) -> None:
            shutil.rmtree(self.sf_dir, ignore_errors=True)
            datagen.write_tables(self.sf_dir, self.seed, SF)

        return median_setup(build)

    def warm_up(self, run: Run) -> None:
        """Each timed id once, cold; its rows are kept for the check."""
        for qid in TIMED_IDS:
            self.rows[qid] = run.op(self._kind(qid), lambda: self._collect(qid))

    def _collect(self, qid: str):
        df = self.queries[qid](self.spark, self.sf_dir)
        return df.columns, df.toArrow()

    def round(self, run: Run) -> None:
        for qid in TIMED_IDS:
            run.op(self._kind(qid), lambda: self.queries[qid](
                self.spark, self.sf_dir).write.format("noop")
                .mode("overwrite").save())

    def _kind(self, qid: str) -> str:
        return f"{self.module[qid]}.{qid}"

    def finish(self, run: Run) -> None:
        import duckdb

        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{self.sf_dir}/{t}.parquet')")
        for qid in TIMED_IDS:
            if self.rows.get(qid) is None:
                continue  # the op raised and was counted as failed
            cols, rows = self.rows[qid]
            if qid not in self.oracles:
                if rows.num_rows == 0:
                    run.fail(f"analytics: {qid} returned no rows")
                continue
            want = con.sql(self.oracles[qid]).arrow()
            if sorted(cols) == sorted(want.column_names) and \
                    digest(rows) == digest(want):
                continue
            ties = rounding_ties(rows, want)
            if ties is None:
                run.fail(f"analytics: {qid} differs from its oracle")
            else:
                print(f"perfbench: {qid}: {ties} value(s) one unit off the "
                      "oracle in the last rounded place (a ROUND half-unit "
                      "tie)", file=sys.stderr)

    def stored_bytes_per_live_byte(self) -> float:
        """Plain parquet keeps no history: every stored byte is read."""
        from harness import dir_bytes

        read = sum(os.path.getsize(os.path.join(self.sf_dir, f"{t}.parquet"))
                   for t in TABLES)
        return dir_bytes(self.sf_dir) / read
