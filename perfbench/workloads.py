"""The benchmark's workloads: which inputs each one generates and which
queries one pass runs, in order.

Every input is a seeded twin of one of the engine's test-table sets checked
in under ``base/`` (gen.py): ``sf`` picks the set, ``copies`` and
``doc_len`` shape the twin. Workloads with the same
shape share one generated input per seed.

The query lists are cut to what fits a run: it must finish in well under a
minute with its set-up, cold pass, warm-up, warm passes and check pass, so
each workload keeps the queries that exercise the layers it exists for
(see README.md).
"""

WORKLOADS = {
    # three relational queries on 960k lineitem rows: plan, job and exchange
    # costs plus aggregate and join work, no custom kernels and little
    # builder work, so kernel and distill changes should not move it.
    # q_sessionize is left out: its 36 generated classes put the pass at ~82,
    # where Spark's codegen cache evicts and recompiles in some runs only
    "rel_x16": dict(
        sf=0.01, copies=16, doc_len=1,
        queries=["q_q1", "q_revenue_by_nation", "q_q18"]),
    # LSH banding self-joins, inverted-index joins and driver-side builds;
    # q_dedup_minhash is rows-only, gated by its oracled fixture twin
    "dedup_x16": dict(
        sf=0.001, copies=16, doc_len=1,
        queries=["q_dedup_minhash", "q_substring_spans", "q_dsir", "q_dedup_exact"],
        twins={"q_dedup_minhash": "q_dedup_minhash_fixed"}),
    # 2000 long documents (~5 KB): per-document kernels (byte-BPE, language id,
    # fingerprint), paragraph-level dedup and a vocabulary build. q_lm_score
    # and q_oov_rate are left out until their exact-tie rounding defect is
    # fixed (README.md, "Known defects")
    "docs_len": dict(
        sf=0.001, copies=4, doc_len=16,
        queries=["q_bpe_bytes", "q_dedup_paragraph", "q_langid", "q_fingerprint", "q_vocab"]),
    # fixed costs dominate: many short queries on a 1x rewrite of the sf0.01
    # tables (sf0.1 is too large to keep beside the benchmark), so a change
    # that adds a job or a driver round trip shows here
    "small_sf01": dict(
        sf=0.01, copies=1, doc_len=1,
        queries=["q_q1", "q_window_lag", "q_dedup_exact", "q_bpe_bytes", "q_phash",
                 "q_entropy", "q_contamination_bloom", "q_oov_rate"]),
}

# used only by the benchmark's own tests (tests/test_run.py)
TEST_WORKLOADS = {
    "selftest": dict(sf=0.001, copies=1, doc_len=1,
                     queries=["q_q1", "q_window_lag", "q_dedup_minhash"],
                     twins={"q_dedup_minhash": "q_dedup_minhash_fixed"}),
}


def get(name):
    return WORKLOADS.get(name) or TEST_WORKLOADS.get(name)


def input_key(w):
    return f"sf{w['sf']}-x{w['copies']}-len{w['doc_len']}"
