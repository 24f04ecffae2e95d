"""End-to-end corpus cleaning pipeline: every stage's contract checked
on a corpus engineered to trip them — short docs, wrong language, low
quality, exact dups, near-dup chains, and split leakage."""

from pyspark.sql import functions as F

from local_pubchem_db_spark.corpus_pipeline import clean_corpus

GOOD = (
    "the quick brown fox jumps over the lazy dog while the keeper watches "
    "from the old wooden bridge near the river"
)
NEAR = GOOD + " extra"
NEAR2 = GOOD + " extra words"
OTHER = (
    "a completely different report about the spark shuffle service and "
    "its external merge path for large clustered deployments"
)
GERMANISH = (
    "der schnelle braune fuchs springt und der alte mann sieht ihn nicht "
    "aber das wasser ist kalt und die nacht ist lang"
)


def _docs(spark):
    rows = [
        (1, GOOD),
        (2, GOOD),        # exact dup of 1 -> collapses to 1
        (3, NEAR),        # near-dup of 1 -> same cluster
        (4, NEAR2),       # near-dup chain member -> same cluster
        (5, OTHER),       # survives
        (6, "too short"),  # length filter
        (7, GERMANISH),   # language filter
        (8, GOOD.upper().replace("THE", "zz")),  # no stopwords -> quality/lang
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_stages(spark):
    stages = clean_corpus(
        _docs(spark),
        min_tokens=8,
        languages=("en",),
        min_quality=0.3,
        lsh_threshold=0.8,
        split_fractions={"train": 0.8, "val": 0.2},
        chunk_size=8,
        stride=8,
        pack_budget=16,
    )
    filtered_ids = {r["doc_id"] for r in stages["filtered"].collect()}
    assert filtered_ids == {1, 2, 3, 4, 5}

    deduped = stages["deduped"].collect()
    deduped_ids = {r["doc_id"] for r in deduped}
    # 2 exact-collapses into 1; 3 and 4 near-dup into 1's cluster
    assert deduped_ids == {1, 5}
    assert all(r["split"] in ("train", "val") for r in deduped)

    chunks = stages["chunks"].collect()
    assert {r["doc_id"] for r in chunks} == {1, 5}
    # leakage check: every chunk carries its document's split label
    doc_split = {r["doc_id"]: r["split"] for r in deduped}
    assert all(r["split"] == doc_split[r["doc_id"]] for r in chunks)

    packed = stages["packed"].collect()
    assert {r["doc_id"] for r in packed} == {1, 5}
    # pack budget respected
    sums = {}
    for r in packed:
        sums[r["pack_id"]] = sums.get(r["pack_id"], 0) + r["n_tokens"]
    assert all(s <= 16 for s in sums.values())


def test_null_ids_fail_fast_and_null_text_is_filtered(spark):
    import pytest

    # null text: filtered (token filter), never crashes downstream stages
    docs = spark.createDataFrame(
        [(1, None), (2, GOOD)], "doc_id long, text string"
    )
    stages = clean_corpus(docs, languages=None, min_quality=0)
    assert {r["doc_id"] for r in stages["deduped"].collect()} == {2}

    # null doc_id: would silently vanish in the dedup semi-join -> the
    # pipeline must raise instead of losing the row
    bad = spark.createDataFrame(
        [(None, GOOD + " unique tail")], "doc_id long, text string"
    )
    with pytest.raises(Exception, match="null doc_id"):
        clean_corpus(bad, languages=None, min_quality=0)["deduped"].collect()


def test_decontamination_stage_drops_eval_quoters(spark):
    # doc 5 (OTHER) quotes nothing; a doc quoting an eval sentence must be
    # dropped AFTER surviving dedup, and chunks never contain it
    quoter = (
        "my own novel framing paragraph which then cites verbatim: "
        + GOOD
        + " and concludes with original analysis afterwards"
    )
    docs = spark.createDataFrame(
        [(1, quoter), (2, OTHER)], "doc_id long, text string"
    )
    eval_df = spark.createDataFrame([(900, GOOD)], "doc_id long, text string")
    stages = clean_corpus(
        docs, languages=None, min_quality=0, eval_df=eval_df
    )
    assert {r["doc_id"] for r in stages["deduped"].collect()} == {2}
    assert {r["doc_id"] for r in stages["chunks"].collect()} == {2}

    # eval_df=None leaves the corpus untouched
    stages_off = clean_corpus(docs, languages=None, min_quality=0)
    assert {r["doc_id"] for r in stages_off["deduped"].collect()} == {1, 2}


def test_near_dup_chain_keeps_one_representative(spark):
    # a~b and b~c but a!~c: pair-based "drop id2" would delete b AND c;
    # component resolution must keep exactly one of {a, b, c}
    docs = spark.createDataFrame(
        [(10, GOOD), (11, NEAR), (12, NEAR2), (13, OTHER)],
        "doc_id long, text string",
    )
    stages = clean_corpus(
        docs, languages=None, min_quality=0, split_fractions=None
    )
    kept = {r["doc_id"] for r in stages["deduped"].collect()}
    assert 13 in kept
    assert len(kept & {10, 11, 12}) == 1  # one representative, min id
    assert 10 in kept


def test_packing_with_hash_scale_doc_ids(spark):
    # 64-bit-hash doc ids (incl. negative, as xxhash64 emits) must pack
    # without cross-document chunk aliasing — the old scalar
    # doc_id * 2^20 + chunk_id uid wrapped and collided at this scale.
    big = -(1 << 62) + 5
    bigger = (1 << 62) + 11
    rows = [
        (big, OTHER),
        (bigger, GOOD),
        # ids whose packed uids would collide under the old scheme:
        # (a * 2^20 + 3) == ((a + 1) * 2^20 - 2^20 + 3)
        (7 << 20, GOOD + " trailing marker one two three four five six"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    stages = clean_corpus(
        docs,
        min_tokens=4,
        languages=None,
        min_quality=0,
        chunk_size=8,
        stride=8,
        pack_budget=16,
    )
    chunks = stages["chunks"].collect()
    packed = stages["packed"].collect()
    # every chunk appears exactly once in the packed output — no
    # aliasing, no loss
    assert sorted((r["doc_id"], r["chunk_id"]) for r in packed) == sorted(
        (r["doc_id"], r["chunk_id"]) for r in chunks
    )
    sums = {}
    for r in packed:
        sums.setdefault(r["pack_id"], 0)
        sums[r["pack_id"]] += r["n_tokens"]
    assert all(s <= 16 for s in sums.values())
    spark.catalog.clearCache()


def test_clean_corpus_span_dedup_stage(spark):
    """span_dedup_tokens wires remove_duplicate_spans between doc-level
    dedup and decontamination: cross-document boilerplate disappears
    from all but one surviving document, whole docs are not dropped."""
    boiler = " ".join(f"lic{i}" for i in range(6))
    rows = [
        (1, " ".join(f"a{i}" for i in range(20)) + " " + boiler),
        (2, " ".join(f"b{i}" for i in range(20)) + " " + boiler),
        (3, " ".join(f"c{i}" for i in range(20))),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = clean_corpus(
        docs,
        languages=None,
        min_quality=0,
        split_fractions=None,
        span_dedup_tokens=4,
    )
    deduped = {r["doc_id"]: r["text"] for r in out["deduped"].collect()}
    assert set(deduped) == {1, 2, 3}  # no document vanishes
    assert sum(1 for t in deduped.values() if boiler in t) == 1
    assert boiler in deduped[1]  # canonical = lowest (id, pos)
    assert "b0" in deduped[2]  # unique content survives the cut


def test_keep_best_quality_survivor(spark):
    """keep_best_quality keeps the cleanest member of the near-dup
    cluster instead of the lowest id."""
    # doc 3 extends GOOD with punctuation-free filler; make doc 1 the
    # LOWER-quality member by appending junk punctuation to it
    rows = [
        (1, GOOD + " !!!! ???? ;;;; ::::"),
        (3, GOOD + " extra"),
        (5, OTHER),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    base = clean_corpus(docs, min_quality=0, lsh_threshold=0.7)
    best = clean_corpus(
        docs, min_quality=0, lsh_threshold=0.7, keep_best_quality=True
    )
    assert {r["doc_id"] for r in base["deduped"].collect()} == {1, 5}
    assert {r["doc_id"] for r in best["deduped"].collect()} == {3, 5}


def test_dsir_stage_selects_target_like_docs(spark):
    """The DSIR stage keeps the k docs closest to the target
    distribution, scored on the final cleaned text, and the scores ride
    through to chunks."""
    science = [
        (10, "photosynthesis converts light energy into chemical energy "
             "inside the plant cells during the long day"),
        (11, "mitosis separates chromosomes into two daughter cells while "
             "the spindle fibers pull them apart slowly"),
    ]
    chatter = [
        (20, "click here to win a free prize today and tell all your "
             "friends about this amazing offer right now"),
        (21, "best price best price buy cheap pills online with the most "
             "amazing discount you have ever seen here"),
    ]
    target = spark.createDataFrame(
        [(100, "plant cells store chemical energy from light while "
               "chromosomes divide during mitosis in daughter cells")],
        "doc_id long, text string",
    )
    docs = spark.createDataFrame(
        science + chatter, "doc_id long, text string"
    )
    stages = clean_corpus(
        docs,
        min_quality=0,
        languages=None,
        dsir_target=target,
        dsir_keep=2,
    )
    kept = stages["deduped"].collect()
    assert {r["doc_id"] for r in kept} == {10, 11}
    assert all("dsir_logweight" in r.asDict() for r in kept)
    chunk_ids = {r["doc_id"] for r in stages["chunks"].collect()}
    assert chunk_ids == {10, 11}


def test_dsir_args_must_pair(spark):
    import pytest as _pytest

    docs = spark.createDataFrame([(1, GOOD)], "doc_id long, text string")
    with _pytest.raises(ValueError, match="dsir_target and dsir_keep"):
        clean_corpus(docs, dsir_keep=5)


def test_shared_skips_count_only_for_own_eager_fills(spark):
    """shared(eager=True) may skip its fill-count ONLY when shared
    itself eagerly filled the identical plan: a lazy shared() or a
    caller's bare persist() creates a cache entry WITHOUT a fill, and
    treating that as filled would resurrect the sibling-subtree
    recompute race the count exists to prevent."""
    from pyspark.sql import functions as F

    from local_pubchem_db_spark.operators.util import (
        release_shared_caches,
        shared,
    )

    release_shared_caches(spark)
    acc = spark.sparkContext.accumulator(0)

    @F.udf("long")
    def probe(x):
        acc.add(1)
        return x

    def plan():
        return spark.range(8, numPartitions=1).select(
            probe(F.col("id")).alias("v")
        )

    # lazy entry exists -> eager shared() must STILL count (fill)
    lazy = shared(plan(), eager=False)
    assert acc.value == 0  # construction ran nothing
    shared(plan(), eager=True)
    assert acc.value == 8  # the fill actually ran
    # now a genuine own-fill exists: the second eager call skips
    shared(plan(), eager=True)
    assert acc.value == 8
    # releasing caches invalidates the skip: next eager call refills
    release_shared_caches(spark)
    shared(plan(), eager=True)
    assert acc.value == 16
    lazy.unpersist()
    release_shared_caches(spark)


def test_exact_unique_cached_and_gate_measured(spark):
    """r15: the exact-deduped relation is shared()-cached — the LSH
    verify references its base three times and the keep/score consumers
    again, so uncached every subtree replays the filter + semi-join
    shuffle. Pins that the deduped plan reads the cache and keeps the
    right ids."""
    from local_pubchem_db_spark.operators.util import release_shared_caches

    release_shared_caches(spark)
    stages = clean_corpus(_docs(spark), languages=None, min_quality=0)
    plan = (
        stages["deduped"]._jdf.queryExecution().executedPlan().toString()
    )
    assert "InMemoryTableScan" in plan, plan
    assert {r["doc_id"] for r in stages["deduped"].collect()} == {1, 5, 7, 8}
    release_shared_caches(spark)
