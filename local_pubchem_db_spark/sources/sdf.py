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

import logging
import os
from weakref import WeakKeyDictionary

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from local_pubchem_db_spark.operators.util import fan_out, register_session_memo

RECORD_DELIM = "$$$$"

# A tag block: a line `> <TAG>` (exact form the reference matches:
# "> <%s>" % tag), then the first value line.
_TAG_BLOCK_RE = r"(?m)^> <(.+)>\n([^\n]*)"
_CID_RE = "<PUBCHEM_COMPOUND_CID>\\n([0-9]+)"

# read_sdf fans the parse out only when its input holds at least this
# many bytes on disk. Below it, the round-robin shuffle costs more than
# it buys: one job instead of two, and one part file per shard instead
# of one per core. Measured on one generated .gz shard (~470 KB per
# 1,000 records) written as build_db writes it, 4 vCPU, median of 10
# alternating pairs, fan-out vs one-task parse: 1.5k records (0.70 MB)
# 900 vs 818 ms, 2k (0.93 MB) 923 vs 1,037 ms (table: read_sdf). The
# floor sits just above that crossover: up to it the one-task parse
# loses at most ~12% once, and the shard stays one file for every later
# lookup. A plain .sdf is ~12x larger on disk for the same records, so
# it fans out at ~1/12 of the records.
FAN_OUT_MIN_BYTES = 1 << 20  # 1 MiB

# one INFO record per adaptive choice; its ``decision`` attribute holds
# the operator, measured inputs, thresholds and choice
_DECISIONS = logging.getLogger("local_pubchem_db_spark.decisions")

# per session: (mapKeyDedupPolicy, record column) -> (cid, tags) Columns
_PARSE_EXPRS: WeakKeyDictionary = WeakKeyDictionary()
register_session_memo(_PARSE_EXPRS)


def source_file_name() -> Column:
    """The basename of the file each row was read from. ``input_file_name``
    is a URI, so its path is %-encoded ("a#b" reads "a%23b"); url_decode
    restores the name, with "+" escaped first because url_decode reads
    "+" as a space."""
    name = F.substring_index(F.input_file_name(), "/", -1)
    return F.url_decode(F.replace(name, F.lit("+"), F.lit("%2B")))


def sdf_records(raw: DataFrame) -> DataFrame:
    """(source_file, record) from a text scan split on ``$$$$`` (batch
    or streaming): apostrophes stripped (utils.py:264), whitespace-only
    chunks dropped. Literal replaces, not regexes: a .gz shard is
    scanned by one task whatever happens downstream."""
    return (
        raw.select(
            source_file_name().alias("source_file"),
            F.replace(F.col("value"), F.lit("'"), F.lit("")).alias("record"),
        )
        # read.text(lineSep) also yields the trailing chunk after the last
        # $$$$ (usually a lone newline) — the reference only yields chunks
        # *terminated* by $$$$. Dropping whitespace-only chunks restores
        # parity for well-formed files. (rlike, not trim: F.trim strips
        # spaces only, not newlines.)
        .filter(F.col("record").rlike(r"\S"))
    )


def read_sdf_records(spark: SparkSession, path: str | list[str]) -> DataFrame:
    """Raw record stream: one row per molecule with columns
    (source_file, record). Apostrophes already stripped (utils.py:264)."""
    paths = path if isinstance(path, list) else [path]
    return sdf_records(spark.read.text(paths, lineSep=RECORD_DELIM))


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
    policy is snapshotted at plan-construction time; the two Columns are
    built once per (session, policy, record column) and reused.
    """
    policy = (
        records.sparkSession.conf.get("spark.sql.mapKeyDedupPolicy", "EXCEPTION")
        or ""
    ).upper()
    memo = _PARSE_EXPRS.setdefault(records.sparkSession, {})
    key = (policy, record_col)
    if key not in memo:
        memo[key] = _parse_exprs(policy, record_col)
    cid, tags = memo[key]
    return records.withColumns({"cid": cid, "tags": tags})


def _parse_exprs(policy: str, record_col: str) -> tuple[Column, Column]:
    rec = F.col(record_col)
    # regexp_extract_all with a group index extracts one group; we need both
    # groups, so extract full blocks then split tag/value per element.
    blocks = F.regexp_extract_all(rec, F.lit(_TAG_BLOCK_RE), 0)
    tag_of = lambda b: F.regexp_extract(b, r"^> <(.+)>", 1)  # noqa: E731
    val_of = lambda b: F.regexp_extract(b, r"\n([^\n]*)$", 1)  # noqa: E731
    entries = F.transform(
        blocks, lambda b: F.struct(tag_of(b).alias("key"), val_of(b).alias("value"))
    )
    if policy == "LAST_WIN":
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
    # nullif: a missing CID extracts as '' which ANSI cast rejects;
    # the documented deviation is cid NULL for CID-less records.
    cid = F.nullif(cid_str, F.lit("")).cast("long")
    return cid, F.map_from_entries(dedup_entries)


def read_sdf(spark: SparkSession, path: str | list[str]) -> DataFrame:
    """Full SDF read: (source_file, record, cid, tags).

    The raw record read is gz-bound (one task per .gz file — gzip is not
    splittable), but the regex parse + projection downstream are
    CPU-bound, so from ``FAN_OUT_MIN_BYTES`` of input on disk ``fan_out``
    redistributes records across all cores first. With thousands of real
    PubChem shards the fan-out is a no-op. Below the floor (a small
    append) the parse runs in the scan's own task: one Spark job, one
    output file per shard. Median wall of one generated .gz shard, fan-out
    vs none, 4 vCPU, 10 alternating pairs, compounds projection with a
    noop sink (two runs) or written as ``build_db`` writes it:

        records  bytes     noop run 1     noop run 2     parquet
        1k       0.47 MB    662 /   593    606 /   612    909 /   828
        1.5k     0.70 MB         -              -          900 /   818
        2k       0.93 MB    888 /   994         -          923 / 1,037
        3k       1.41 MB  1,153 / 1,230    905 / 1,035  1,243 / 1,414
        5k       2.34 MB  1,703 / 2,051  1,723 / 1,699  1,671 / 2,205
        8k       3.74 MB  2,334 / 2,910  2,481 / 2,924        -

    A path that cannot be sized on the driver (a URI, a directory, a
    glob) fans out, as every input did before the floor. The choice is
    logged on ``local_pubchem_db_spark.decisions``."""
    paths = path if isinstance(path, list) else [path]
    records = read_sdf_records(spark, paths)
    size = _local_bytes(paths)
    fan = size is None or size >= FAN_OUT_MIN_BYTES
    decision = {
        "operator": "read_sdf",
        "choice": "fan_out" if fan else "scan_tasks",
        "input_bytes": size,
        "min_bytes": FAN_OUT_MIN_BYTES,
        "target": spark.sparkContext.defaultParallelism,
    }
    _DECISIONS.info("read_sdf: %s", decision, extra={"decision": decision})
    return parse_sdf_records(fan_out(records) if fan else records)


def _local_bytes(paths: list[str]) -> int | None:
    """Total on-disk size of ``paths``, or None when one is not a plain
    local file."""
    total = 0
    for p in paths:
        if not os.path.isfile(p):
            return None
        total += os.path.getsize(p)
    return total
