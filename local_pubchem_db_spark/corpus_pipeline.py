"""End-to-end corpus cleaning: the composed training-data pipeline.

filter (length / language / quality) → exact dedup → MinHash-LSH
near-dedup with cluster resolution → leakage-aware split assignment →
chunk → pack. Each stage is one of this package's tested operators; this
module only fixes the composition order and the cross-stage contracts a
real pipeline gets wrong first:

- **split before chunk**: train/val/test labels are assigned on the
  DOCUMENT id and inherited by every chunk — assigning on chunk ids
  would leak sibling chunks of one document across splits.
- **exact dedup before near-dedup**: byte-identical copies collapse in
  one cheap hash shuffle so the LSH stage never wastes candidate pairs
  on them.
- **cluster resolution, not pair filtering**: near-dup PAIRS become
  connected components and one representative (min id) survives per
  component — dropping `id2` of every pair would over-delete chains
  (a~b, b~c drops b and c even though c only resembles the deleted b).

Every stage is lazy; the returned dict holds DataFrames that share scan
subtrees, so asking only for ``packed`` plans one job. At 100 TB the
shape is: two hash shuffles (exact dedup, LSH candidates), one pair
verify, the iterative (checkpointed) component resolution over the tiny
pairs relation, and map-only everything else.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from local_pubchem_db_spark.functions.text import (
    lang_id,
    quality_score,
    token_count,
)
from local_pubchem_db_spark.operators.chunking import (
    chunk_documents,
    pack_sequences,
)
from local_pubchem_db_spark.operators.dedup import (
    decontaminate,
    dedup_keep_ids,
    exact_dedup_by_content,
    minhash_lsh_dedup_pairs,
    remove_duplicate_spans,
)
from local_pubchem_db_spark.operators.resampling import dsir_select
from local_pubchem_db_spark.operators.sampling import hash_split
from local_pubchem_db_spark.operators.util import shared



def clean_corpus(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int = 8,
    languages: tuple[str, ...] | None = ("en",),
    min_quality: float = 0.3,
    lsh_threshold: float = 0.8,
    split_fractions: dict[str, float] | None = None,
    chunk_size: int = 32,
    stride: int = 24,
    pack_budget: int | None = None,
    eval_df: DataFrame | None = None,
    span_dedup_tokens: int | None = None,
    keep_best_quality: bool = False,
    dsir_target: DataFrame | None = None,
    dsir_keep: int | None = None,
) -> dict[str, DataFrame]:
    """Run the full cleaning pipeline; returns the named lazy stages:

    ``filtered``  docs surviving length/language/quality filters
    ``deduped``   after exact + near-dup removal (one doc per cluster)
                  and — when ``eval_df`` is given — eval-set
                  decontamination, with the ``split`` column when
                  ``split_fractions``
    ``chunks``    sliding-window chunks of the deduped docs
    ``packed``    chunks with ``pack_id`` (only when ``pack_budget``)

    ``languages=None`` / ``min_quality=0`` / ``split_fractions=None`` /
    ``eval_df=None`` / ``span_dedup_tokens=None`` disable the
    respective stage (``span_dedup_tokens=N`` cuts every N-token span
    duplicated across the deduped corpus down to one canonical copy —
    see ``remove_duplicate_spans``).

    Decontamination runs AFTER dedup (fewer docs to fingerprint — dedup
    shrinks the corpus, decontamination is a per-doc predicate that
    commutes with it) and before split assignment, so every split is
    contamination-free against ``eval_df``'s text column.

    ``keep_best_quality=True`` makes each near-dup cluster keep its
    highest-``quality_score`` member instead of the minimum id (see
    ``dedup_keep_ids``). ``dsir_target`` + ``dsir_keep`` append DSIR
    importance selection as the LAST corpus-shaping stage (after dedup /
    span dedup / decontamination, before split assignment): keep the
    ``dsir_keep`` docs whose hashed-n-gram distribution best matches the
    target corpus, scored on the FINAL cleaned text. Selected rows carry
    ``dsir_logweight`` / ``dsir_score`` through to chunks.

    Laziness caveat: CONSTRUCTION RUNS JOBS over the corpus. The
    exact-deduped relation is cached eagerly (``shared()`` — the LSH
    verify references its base relation three times and the keep/score
    consumers again, so one serial pass beats four replays of the
    semi-join shuffle) and connected components resolve iteratively at
    call time; with ``dsir_target`` set there is
    additionally one eager featurization of the (small, by contract)
    target corpus to fail fast on a token-less target. Ask for this
    function only when you intend to run the pipeline. Long-lived
    sessions should ``release_shared_caches(spark)`` between pipeline
    invocations (the standard shared() contract).
    """
    # Fail fast on null ids: a null doc_id would silently vanish in the
    # exact-dedup semi-join (min() skips nulls, the join never matches) —
    # data loss an upstream bug should surface, not hide. The check lives
    # INSIDE the doc_id expression (a pruned side-column assertion would
    # be optimized away); on valid data it is a codegen'd per-row no-op.
    checked_id = F.when(
        F.col(id_col).isNotNull(), F.col(id_col)
    ).otherwise(
        F.raise_error(F.lit("clean_corpus: null doc_id")).cast("long")
    )
    base = docs.select(checked_id.alias("doc_id"), F.col(text_col).alias("text"))

    keep = token_count(F.col("text")) >= min_tokens
    if languages is not None:
        keep = keep & lang_id(F.col("text")).isin(*languages)
    if min_quality > 0:
        keep = keep & (quality_score(F.col("text")) >= min_quality)
    filtered = base.filter(keep)

    # exact dedup: min id per content hash survives (one map-side-
    # combinable shuffle); left_semi keeps the payload row.
    # shared(): this relation's lineage (scan + filter UDF-set + the
    # semi-join shuffle) is referenced from FOUR-plus plan subtrees —
    # the fused LSH verify reads its base relation three times
    # (bucketing + both text-fetch sides, see minhash_lsh_dedup_pairs)
    # and the keep/score consumers read it again. Uncached, each subtree
    # replays the semi-join shuffle; cached, one pass computes it
    # (MEMORY_AND_DISK — spills, never OOMs). This also restores the
    # caching the r14 fused restructure removed when the shingle
    # relation (whose shared() sat downstream of this lineage) was
    # eliminated.
    keep_ids = exact_dedup_by_content(filtered, "doc_id", "text").select(
        F.col("keep_id").alias("doc_id")
    )
    exact_unique = shared(filtered.join(keep_ids, "doc_id", "left_semi"))

    # near-dedup: LSH pairs -> connected components -> representatives.
    # collapse_exact off: the exact_dedup_by_content stage above already
    # guarantees distinct texts, so the operator's own pre-collapse
    # groupBy would be a redundant shuffle here.
    pairs = minhash_lsh_dedup_pairs(
        exact_unique, "doc_id", "text", threshold=lsh_threshold,
        collapse_exact=False,
    )
    if keep_best_quality:
        scored = exact_unique.withColumn(
            "__q", quality_score(F.col("text"))
        )
        deduped = dedup_keep_ids(
            scored, pairs, "doc_id", quality_col="__q"
        ).drop("__q")
    else:
        deduped = dedup_keep_ids(exact_unique, pairs, "doc_id")

    if span_dedup_tokens is not None:
        # Substring-level dedup AFTER doc-level dedup: whole-document
        # duplicates are already gone (cheaper per doc there), so this
        # stage only pays for the cross-document boilerplate spans the
        # doc-level stages cannot see. Before decontamination/split so
        # their predicates act on the final text.
        deduped = remove_duplicate_spans(
            deduped, "doc_id", "text", span_tokens=span_dedup_tokens
        ).drop("n_removed_tokens")

    if eval_df is not None:
        deduped = decontaminate(deduped, eval_df, id_col="doc_id")

    if (dsir_target is None) != (dsir_keep is None):
        raise ValueError("dsir_target and dsir_keep must be set together")
    if dsir_target is not None:
        deduped = dsir_select(
            deduped, dsir_target, k=dsir_keep, id_col="doc_id"
        )

    if split_fractions is not None:
        # document-level split BEFORE chunking: sibling chunks may never
        # straddle train/val/test
        deduped = hash_split(deduped, "doc_id", split_fractions)

    chunks = chunk_documents(
        deduped, "text", "doc_id", chunk_size=chunk_size, stride=stride
    )
    if "split" in deduped.columns:
        chunks = chunks.join(deduped.select("doc_id", "split"), "doc_id")

    out = {"filtered": filtered, "deduped": deduped, "chunks": chunks}
    if pack_budget is not None:
        # Pack and join back on the COMPOSITE (doc_id, chunk_id) key: a
        # synthetic scalar uid (doc_id * 2^20 + chunk_id) silently wraps
        # once doc ids are 64-bit hashes (xxhash64 ids from the corpus
        # sources), aliasing chunks across unrelated documents. The
        # composite key is collision-free by construction and keeps the
        # sibling-chunks-pack-adjacently scan order.
        packed = pack_sequences(
            chunks.select("doc_id", "chunk_id", "n_tokens"),
            pack_budget,
            n_tokens_col="n_tokens",
            order_cols=["doc_id", "chunk_id"],
        )
        out["packed"] = packed.join(
            chunks.drop("n_tokens"), ["doc_id", "chunk_id"]
        )
    return out
