"""Unit tests for the corpus-curation operators (operators/curation.py)
and the SemDeDup keeper selection (operators/dedup.py).

Beyond-reference scope: the reference ETL
(/root/reference/pyspark-stack/spark-apps/script/job_parquet.py) has no
document curation; these operators are the training-data-pipeline
extension set mandated by the build brief.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from airflow_etl_pyspark_inmet_spark.operators.curation import (
    pack_sequences,
    pii_scrub,
    segment_dedup,
)
from airflow_etl_pyspark_inmet_spark.operators.dedup import (
    semantic_dedup_keepers,
)


def test_segment_dedup_flags_shared_segment(spark):
    # 4-word segments; docs 1 and 2 share their first segment verbatim,
    # doc 3 is unique -> only the shared segment is boilerplate.
    shared = "alpha beta gamma delta"
    docs = spark.createDataFrame(
        [
            (1, shared + " one two three four"),
            (2, shared + " five six seven eight"),
            (3, "nine ten eleven twelve"),
        ],
        "doc_id long, text string",
    )
    rows = {
        r["doc_id"]: r
        for r in segment_dedup(docs, seg_words=4, min_docs=2).collect()
    }
    assert rows[1]["n_segments"] == 2
    assert rows[1]["n_boilerplate"] == 1
    assert rows[1]["kept_text"] == "one two three four"
    assert rows[2]["kept_text"] == "five six seven eight"
    assert rows[3]["n_boilerplate"] == 0
    assert rows[3]["kept_text"] == "nine ten eleven twelve"
    assert abs(rows[1]["boilerplate_frac"] - 0.5) < 1e-12


def test_segment_dedup_within_doc_repeat_not_boilerplate(spark):
    # the same segment repeated inside ONE doc is not cross-doc
    # boilerplate (countDistinct(doc_id) == 1)
    docs = spark.createDataFrame(
        [(1, "a b a b"), (2, "c d e f")], "doc_id long, text string"
    )
    rows = {
        r["doc_id"]: r
        for r in segment_dedup(docs, seg_words=2, min_docs=2).collect()
    }
    assert rows[1]["n_boilerplate"] == 0
    assert rows[1]["kept_text"] == "a b a b"


def test_intra_doc_dedup_drops_repeats_keeps_first(spark):
    from airflow_etl_pyspark_inmet_spark.operators.curation import (
        intra_doc_dedup,
    )

    docs = spark.createDataFrame(
        [
            # segments (2 words): [a b] [c d] [a b] [e f] -> drop 3rd
            (1, "a b c d a b e f"),
            # no repeats
            (2, "g h i j"),
            # triple repeat: [x y] [x y] [x y] -> keep first only
            (3, "x y x y x y"),
        ],
        "doc_id long, text string",
    )
    rows = {
        r["doc_id"]: r for r in intra_doc_dedup(docs, seg_words=2).collect()
    }
    assert rows[1]["n_segments"] == 4 and rows[1]["n_repeats"] == 1
    assert rows[1]["dedup_text"] == "a b c d e f"
    assert rows[2]["n_repeats"] == 0 and rows[2]["dedup_text"] == "g h i j"
    assert rows[3]["n_segments"] == 3 and rows[3]["n_repeats"] == 2
    assert rows[3]["dedup_text"] == "x y"


def test_intra_doc_dedup_is_map_only(spark):
    from airflow_etl_pyspark_inmet_spark.operators.curation import (
        intra_doc_dedup,
    )

    docs = spark.createDataFrame(
        [(1, "a b c d")], "doc_id long, text string"
    )
    plan = (
        intra_doc_dedup(docs)._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan  # zero shuffles: pure scan throughput


def test_pii_scrub_masks_and_counts(spark):
    docs = spark.createDataFrame(
        [
            (1, "mail a@b.io and c.d+x@e-f.org, host 10.0.0.1 end"),
            (2, "no pii here"),
            (3, "ip only 192.168.1.255"),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in pii_scrub(docs).collect()}
    assert rows[1]["n_emails"] == 2 and rows[1]["n_ips"] == 1
    assert (
        rows[1]["redacted_text"]
        == "mail <EMAIL> and <EMAIL>, host <IP> end"
    )
    assert rows[2]["n_emails"] == 0 and rows[2]["n_ips"] == 0
    assert rows[2]["redacted_text"] == "no pii here"
    assert rows[3]["redacted_text"] == "ip only <IP>"


def test_pack_sequences_exact_bins_and_conservation(spark):
    # 1 shard -> packing order is doc_id; capacity 5 over docs of
    # 3, 4, 6 tokens = stream of 13 tokens -> bins 0..2
    docs = spark.createDataFrame(
        [(0, "a b c"), (1, "d e f g"), (2, "h i j k l m")],
        "doc_id long, text string",
    )
    out = pack_sequences(docs, capacity=5, n_shards=1).collect()
    got = {(r["bin_id"], r["doc_id"]): r for r in out}
    # doc0 @ [0,3) -> bin0; doc1 @ [3,7) -> bins 0,1; doc2 @ [7,13) -> bins 1,2
    assert got[(0, 0)]["tok_start"] == 0 and got[(0, 0)]["n_tokens"] == 3
    assert got[(0, 1)]["tok_start"] == 0 and got[(0, 1)]["n_tokens"] == 2
    assert got[(1, 1)]["tok_start"] == 2 and got[(1, 1)]["n_tokens"] == 2
    assert got[(1, 2)]["tok_start"] == 0 and got[(1, 2)]["n_tokens"] == 3
    assert got[(2, 2)]["tok_start"] == 3 and got[(2, 2)]["n_tokens"] == 3
    assert len(got) == 5
    # conservation: every token lands in exactly one bin slice
    assert sum(r["n_tokens"] for r in out) == 13
    # every bin except the last is exactly at capacity
    per_bin = {}
    for r in out:
        per_bin[r["bin_id"]] = per_bin.get(r["bin_id"], 0) + r["n_tokens"]
    assert per_bin[0] == 5 and per_bin[1] == 5 and per_bin[2] == 3


def test_pack_sequences_sharded_total_conservation(spark, sf_small):
    docs = spark.read.parquet(f"{sf_small}/documents.parquet")
    out = pack_sequences(docs, capacity=256, n_shards=8)
    total_slices = out.agg(F.sum("n_tokens")).first()[0]
    total_tokens = docs.select(
        F.sum(F.size(F.split(F.trim("text"), r"\s+")))
    ).first()[0]
    assert total_slices == total_tokens
    # no negative or zero-width slices
    assert out.filter(F.col("n_tokens") <= 0).count() == 0


def test_semantic_keepers_cluster_and_singletons(spark):
    # one block; vecs 1,2 near-identical, 3 orthogonal -> cluster {1,2}
    # keeps min id 1; 3 keeps itself
    emb = spark.createDataFrame(
        [
            (1, "b", [1.0, 0.0]),
            (2, "b", [0.999, 0.01]),
            (3, "b", [0.0, 1.0]),
        ],
        "vec_id long, label string, embedding array<double>",
    )
    rows = {
        r["vec_id"]: r
        for r in semantic_dedup_keepers(
            emb, block_col="label", threshold=0.9
        ).collect()
    }
    assert rows[1]["cluster_id"] == 1 and rows[1]["is_keeper"]
    assert rows[2]["cluster_id"] == 1 and not rows[2]["is_keeper"]
    assert rows[3]["cluster_id"] == 3 and rows[3]["is_keeper"]


def test_strip_boilerplate_counts_and_text(spark):
    from airflow_etl_pyspark_inmet_spark.operators.curation import (
        strip_boilerplate,
    )

    docs = spark.createDataFrame(
        [
            (1, "go to https://a.example/x?q=1 now!!!!! please...... ok"),
            (2, "no markup here"),
            (3, "=====header===== http://b.example body-----tail"),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in strip_boilerplate(docs).collect()}
    # doc 1: one URL, two runs (!!!!! and ......) squashed to one char each
    assert rows[1]["n_urls"] == 1 and rows[1]["n_punct_runs"] == 2
    assert rows[1]["clean_text"] == "go to now! please. ok"
    # doc 2: untouched
    assert rows[2]["n_urls"] == 0 and rows[2]["n_punct_runs"] == 0
    assert rows[2]["clean_text"] == "no markup here"
    # doc 3: URL gone before punctuation squash; = and - runs squashed
    assert rows[3]["n_urls"] == 1 and rows[3]["n_punct_runs"] == 3
    assert rows[3]["clean_text"] == "=header= body-tail"


def test_c4_pretraining_pipeline_invariants(spark, sf_small):
    """The flagship composition holds every stage's contract at once:
    eval docs excluded, survivors canonical and quality-positive, PII
    counts fire exactly on the planted docs, pack slices are contiguous
    per doc and bins are exactly capacity-sized except the last, shard
    ids in range."""
    from airflow_etl_pyspark_inmet_spark.plans.queries_llm import (
        c4_pretraining_pipeline,
    )

    rows = c4_pretraining_pipeline(spark, sf_small).collect()
    assert rows, "pipeline produced no manifest rows"

    # stage gates
    for r in rows:
        assert r.doc_id % 23 != 0          # decontaminate: eval split out
        assert r.doc_id == r.cluster_id    # near-dedup: canonical only
        assert r.logit_e6 >= 0             # quality filter
        assert 0 <= r.shard < 8 and r.pos >= 1
        assert r.exact_copies >= 1 and r.temp_share_e6 > 0
        if r.doc_id % 3 == 0:              # planted PII found and only it
            assert r.n_emails >= 1 and r.n_ips >= 1
        else:
            assert r.n_emails == 0 and r.n_ips == 0

    # pack: bins are exactly 256 tokens except the single last bin
    bin_tot = {}
    for r in rows:
        bin_tot[r.bin_id] = bin_tot.get(r.bin_id, 0) + r.n_tokens
    last = max(bin_tot)
    for b, tot in bin_tot.items():
        assert tot == 256 or (b == last and tot <= 256), (b, tot)

    # pack: per-doc slices are contiguous from offset 0 across adjacent bins
    from collections import defaultdict

    per_doc = defaultdict(list)
    for r in rows:
        per_doc[r.doc_id].append((r.bin_id, r.tok_start, r.n_tokens))
    for doc, slices in per_doc.items():
        slices.sort()
        assert slices[0][1] == 0, doc
        for (b0, s0, n0), (b1, s1, _) in zip(slices, slices[1:]):
            assert b1 == b0 + 1 and s1 == s0 + n0, doc


def test_c4_pretraining_pipeline_job_chain(spark, sf_small, monkeypatch):
    """Building and running c4 stays within its measured Spark job count
    (JOBS_C4; a post-shuffle parallelism probe, a lazily rebuilt keepers
    frame or a join in the convergence probe each add jobs; checkpointing
    `train` costs a few, and removes the per-consumer re-run of its
    8-gram explode). The
    connected-components stage is pinned on its own: it converges in
    exactly CC_ROUNDS rounds on c4's pairs and runs at most CC_JOBS jobs,
    so a change in jobs per round shows apart from a change in rounds.
    Measured at 1, 4 and 32 cores: 64/68/68 c4 jobs, 2 rounds, 25 CC
    jobs."""
    from airflow_etl_pyspark_inmet_spark.operators import dedup
    from airflow_etl_pyspark_inmet_spark.plans.queries_llm import (
        c4_pretraining_pipeline,
    )

    JOBS_C4, CC_ROUNDS, CC_JOBS = 68, 2, 25
    cc = dedup.connected_components
    seen = []

    def capture(pairs, *args, **kwargs):
        seen.append(pairs)
        return cc(pairs, *args, **kwargs)

    monkeypatch.setattr(dedup, "connected_components", capture)
    sc = spark.sparkContext

    def jobs_of(name, fn):
        sc.setJobGroup(name, name)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(name))

    n = jobs_of(
        "c4_job_chain", lambda: c4_pretraining_pipeline(spark, sf_small).collect()
    )
    assert 0 < n <= JOBS_C4, n
    (pairs,) = seen
    n = jobs_of("c4_cc", lambda: cc(pairs, max_iter=CC_ROUNDS).collect())
    assert 0 < n <= CC_JOBS, n
    with pytest.raises(RuntimeError, match="still changing"):
        cc(pairs, max_iter=CC_ROUNDS - 1)


def test_m13_multimodal_pack_token_conservation(spark, sf_small):
    """Every doc's packed slices sum to exactly text_tokens +
    media_tokens (media measured from the real decoded payload), for
    all three modalities; bins are capacity-sized except the last."""
    from collections import defaultdict

    from airflow_etl_pyspark_inmet_spark.plans.queries_llm import (
        m13_multimodal_pack,
    )

    rows = m13_multimodal_pack(spark, sf_small).collect()
    assert {r.modality for r in rows} == {"png", "wav", "avi"}

    per_doc = defaultdict(int)
    expect = {}
    bin_tot = defaultdict(int)
    for r in rows:
        per_doc[r.doc_id] += r.n_tokens
        expect[r.doc_id] = r.text_tokens + r.media_tokens
        bin_tot[r.bin_id] += r.n_tokens
        if r.modality == "png":
            assert r.media_tokens == 16  # ceil(8/2)^2 from decoded dims
    assert per_doc == expect  # conservation across modalities
    last = max(bin_tot)
    for b, tot in bin_tot.items():
        assert tot == 256 or (b == last and tot <= 256)


def test_length_grouped_batches_manifest(spark):
    """Every band cuts into full batches of 8 plus at most one partial
    tail; pad_tokens = n*max - sum >= 0; total docs conserved."""
    from pyspark.sql import functions as F

    from airflow_etl_pyspark_inmet_spark.operators.curation import (
        length_grouped_batches,
    )

    docs = spark.range(100).select(
        F.col("id").alias("doc_id"),
        # token counts 1..40 -> bands 0 and 1
        F.array_repeat(F.lit("w"), (F.col("id") % 40 + 1).cast("int"))
        .cast("array<string>")
        .alias("_arr"),
    ).select("doc_id", F.array_join("_arr", " ").alias("text"))
    out = length_grouped_batches(docs, batch_size=8, band_tokens=32)
    rows = out.collect()
    assert sum(r["n_docs"] for r in rows) == 100
    for r in rows:
        assert 1 <= r["n_docs"] <= 8
        assert r["pad_tokens"] == r["n_docs"] * r["max_tokens"] - r["sum_tokens"]
        assert r["pad_tokens"] >= 0
    # within each band, only the LAST batch may be partial
    from collections import defaultdict

    by_band = defaultdict(list)
    for r in rows:
        by_band[r["band"]].append((r["batch_idx"], r["n_docs"]))
    for band, batches in by_band.items():
        batches.sort()
        for idx, (bi, n) in enumerate(batches):
            assert bi == idx
            if idx < len(batches) - 1:
                assert n == 8, f"band {band} batch {bi} not full"
