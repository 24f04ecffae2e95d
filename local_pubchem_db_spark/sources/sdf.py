"""SDF file source: distributed record splitting + SD-tag parsing.

The reference reads each file into memory in one Python process, splits on
the literal ``$$$$`` delimiter, strips apostrophes, and regex-extracts the
CID (reference utils.py:245-269). Its per-record line scan then matches
``> <TAG>`` lines against the layout's requested tags (utils.py:92-116).

Spark-first re-expression:
- ``spark.read.text(path, lineSep="$$$$")`` → one row per molecule record,
  streamed by the file source, splittable for uncompressed input, and
  auto-gunzipped by extension. At 100 TB (PubChem ships thousands of
  ``Compound_*.sdf.gz`` shards) parallelism is per-file for .gz and
  per-128MB-split for plain text — no driver-side reading at all.
- Tag parsing happens ONCE into a ``map<string,string>`` column; the layout
  projection then reads map keys. Catalyst prunes everything downstream; the
  reference's hand-rolled "only scan requested tags" optimization
  (utils.py:85-102) is subsumed by column pruning.

Reference quirks deliberately preserved (observable in outputs):
- every ``'`` is deleted from the raw record before any extraction
  (utils.py:264);
- a tag's value is the FIRST line after the tag line only — multi-line
  values are truncated (utils.py:104);
- when the same tag repeats within a record the FIRST occurrence wins
  (the reference fills a column once; a duplicate tag for an
  already-filled column would crash it — we keep first-wins);
- tag lines must match ``> <TAG>`` exactly (utils.py:85,102).

Documented deviation: a record with no ``PUBCHEM_COMPOUND_CID`` tag crashes
the reference with IndexError (utils.py:265); here it yields cid NULL and
is dropped by any NOT_NULL constraint on cid.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

RECORD_DELIM = "$$$$"

# A tag block: a line `> <TAG>` (exact form the reference matches:
# "> <%s>" % tag), then the first value line.
_TAG_BLOCK_RE = r"(?m)^> <(.+)>\n([^\n]*)"
_CID_RE = "<PUBCHEM_COMPOUND_CID>\\n([0-9]+)"


def source_file_name() -> Column:
    """The basename of the file each row was read from. ``input_file_name``
    is a URI, so its path is %-encoded ("a#b" reads "a%23b"); url_decode
    restores the name, with "+" escaped first because url_decode reads
    "+" as a space."""
    name = F.element_at(F.split(F.input_file_name(), "/"), -1)
    return F.url_decode(F.replace(name, F.lit("+"), F.lit("%2B")))


def read_sdf_records(spark: SparkSession, path: str | list[str]) -> DataFrame:
    """Raw record stream: one row per molecule with columns
    (source_file, record). Apostrophes already stripped (utils.py:264)."""
    paths = path if isinstance(path, list) else [path]
    df = spark.read.text(paths, lineSep=RECORD_DELIM)
    return (
        df.select(
            source_file_name().alias("source_file"),
            F.regexp_replace(F.col("value"), "'", "").alias("record"),
        )
        # read.text(lineSep) also yields the trailing chunk after the last
        # $$$$ (usually a lone newline) — the reference only yields chunks
        # *terminated* by $$$$. Dropping whitespace-only chunks restores
        # parity for well-formed files. (rlike, not trim: F.trim strips
        # spaces only, not newlines.)
        .filter(F.col("record").rlike(r"\S"))
    )


def parse_sdf_records(records: DataFrame, record_col: str = "record") -> DataFrame:
    """Add ``cid`` (long) and ``tags`` (map<string,string>) columns.

    First regex match wins for cid (utils.py:265). For tags, the fast
    path reverses the entry array before ``map_from_entries`` so that
    under the session's LAST_WIN dedup policy the FIRST occurrence of a
    duplicated tag wins (``get_spark`` sets LAST_WIN; the dedup runs
    inside codegen for free). A session whose ``mapKeyDedupPolicy`` is
    not LAST_WIN is left UNTOUCHED — mutating foreign session state
    would silently change duplicate-key semantics for unrelated code —
    and gets an explicit first-occurrence filter instead (interpreted
    HOF, ~5x the expression cost of the fast path; measured r2). The
    policy is snapshotted at plan-construction time.
    """
    policy = records.sparkSession.conf.get(
        "spark.sql.mapKeyDedupPolicy", "EXCEPTION"
    )
    rec = F.col(record_col)
    # regexp_extract_all with a group index extracts one group; we need both
    # groups, so extract full blocks then split tag/value per element.
    blocks = F.regexp_extract_all(rec, F.lit(_TAG_BLOCK_RE), 0)
    tag_of = lambda b: F.regexp_extract(b, r"^> <(.+)>", 1)  # noqa: E731
    val_of = lambda b: F.regexp_extract(b, r"\n([^\n]*)$", 1)  # noqa: E731
    entries = F.transform(
        blocks, lambda b: F.struct(tag_of(b).alias("key"), val_of(b).alias("value"))
    )
    if (policy or "").upper() == "LAST_WIN":
        dedup_entries = F.reverse(entries)
    else:
        # first occurrence of each key survives; the deduped array is
        # safe under the session's own EXCEPTION (or ANY) policy
        dedup_entries = F.filter(
            entries,
            lambda e, i: F.array_position(
                F.transform(entries, lambda x: x["key"]), e["key"]
            )
            == i + 1,
        )
    cid_str = F.regexp_extract(rec, _CID_RE, 1)
    return records.withColumn(
        # nullif: a missing CID extracts as '' which ANSI cast rejects;
        # the documented deviation is cid NULL for CID-less records.
        "cid", F.nullif(cid_str, F.lit("")).cast("long")
    ).withColumn("tags", F.map_from_entries(dedup_entries))


def read_sdf(spark: SparkSession, path: str | list[str]) -> DataFrame:
    """Full SDF read: (source_file, record, cid, tags).

    The raw record read is gz-bound (one task per .gz file — gzip is not
    splittable), but the regex parse + projection downstream are CPU-bound,
    so fan_out redistributes records across all cores first. With
    thousands of real PubChem shards the fan-out is a no-op; for few-shard
    inputs it was measured 1.5x end-to-end (8 files, 32 cores)."""
    from local_pubchem_db_spark.operators.util import fan_out

    return parse_sdf_records(fan_out(read_sdf_records(spark, path)))
