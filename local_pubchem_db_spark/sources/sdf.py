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
- Tag parsing happens ONCE per record into a ``map<string,string>``
  column, after any fan-out exchange (``parse_sdf_records``); the layout
  projection then reads map keys, and the reference's hand-rolled "only
  scan requested tags" loop (utils.py:85-102) becomes map lookups in
  generated code.

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
# alternating pairs, fan-out vs one-task parse: 1k records (0.48 MB)
# 489 vs 375 ms, 1.5k (0.71 MB) 392 vs 394 ms, 2k (0.94 MB) 396 vs
# 451 ms (table: read_sdf). The floor sits above that crossover: up to
# it the one-task parse loses at most ~14%, and the shard stays one
# file for every later lookup. A plain .sdf is ~12x larger on disk for
# the same records, so it fans out at ~1/12 of the records.
FAN_OUT_MIN_BYTES = 1 << 20  # 1 MiB

# one INFO record per adaptive choice; its ``decision`` attribute holds
# the operator, measured inputs, thresholds and choice
_DECISIONS = logging.getLogger("local_pubchem_db_spark.decisions")

# per session: (mapKeyDedupPolicy, record column) -> (cid, tags generator)
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

    First regex match wins for cid (utils.py:265). The tag map is built
    once per record, behind a barrier: it is the output of a one-row
    ``inline`` generator, not a projected alias. Filter pushdown inlines
    a projected alias into every predicate that reads it, so
    ``compounds_plan``'s NOT-NULL ``na.drop`` would copy the whole map
    builder into its Filter once per NOT-NULL column and, above
    ``read_sdf``'s fan-out floor, below the round-robin exchange: each
    record parsed serially in its file's scan task and again after the
    shuffle. A predicate on generator output cannot move below the
    Generate, so the filter reads the built map, after any exchange.

    Under the session's LAST_WIN dedup policy (``get_spark`` sets it)
    keys and values are two ``regexp_extract_all`` group scans and the
    map is ``map_from_arrays`` of the reversed arrays, so the FIRST
    occurrence of a duplicated tag wins. No lambda function is involved:
    ``ArrayTransform``, ``ArrayFilter`` and the other higher-order
    functions are ``CodegenFallback``, which keeps their whole operator
    out of whole-stage codegen, so on this path the Generate, the layout
    projection and the NOT-NULL filter run in one generated stage. A
    session whose ``mapKeyDedupPolicy`` is not LAST_WIN is left
    UNTOUCHED — mutating foreign session state would silently change
    duplicate-key semantics for unrelated code — and gets an explicit
    first-occurrence ``filter`` instead, interpreted, behind the same
    barrier; its lambda reads the key array through a lambda variable,
    so that path also scans each record once. The policy is snapshotted
    at plan-construction time; the two Columns are built once per
    (session, policy, record column) and reused. ``cid`` stays a plain
    column outside the barrier, so a plan that never reads it
    (``compounds_plan``) prunes its regex.
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
    base = records.drop("cid", "tags")
    return base.select("*", tags).select(*base.columns, cid.alias("cid"), "tags")


def _parse_exprs(policy: str, record_col: str) -> tuple[Column, Column]:
    """(cid, the generator that yields ``tags``)."""
    rec = F.col(record_col)
    keys = F.regexp_extract_all(rec, F.lit(_TAG_BLOCK_RE), 1)
    values = F.regexp_extract_all(rec, F.lit(_TAG_BLOCK_RE), 2)
    if policy == "LAST_WIN":
        tags = F.map_from_arrays(F.reverse(keys), F.reverse(values))
    else:
        # first occurrence of each key survives; the deduped array is
        # safe under the session's own EXCEPTION (or ANY) policy. The
        # arrays are bound to the outer lambda variable ``s``: an inner
        # lambda that named ``keys`` would rerun its regex scan per tag
        tags = F.transform(
            F.array(F.struct(keys.alias("k"), values.alias("v"))),
            lambda s: F.map_from_entries(
                F.filter(
                    F.arrays_zip(s["k"].alias("key"), s["v"].alias("value")),
                    lambda e, i: F.array_position(s["k"], e["key"]) == i + 1,
                )
            ),
        )[0]
    cid_str = F.regexp_extract(rec, _CID_RE, 1)
    # nullif: a missing CID extracts as '' which ANSI cast rejects;
    # the documented deviation is cid NULL for CID-less records.
    cid = F.nullif(cid_str, F.lit("")).cast("long")
    return cid, F.inline(F.array(F.struct(tags.alias("tags"))))


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

        records  bytes     noop run 1   noop run 2   parquet
        1k       0.48 MB   312 / 279    359 / 276    489 /   375
        1.5k     0.71 MB   285 / 319    303 / 317    392 /   394
        2k       0.94 MB   277 / 311    295 / 337    396 /   451
        3k       1.40 MB   350 / 422    376 / 432    455 /   543
        5k       2.36 MB   485 / 682    527 / 691    638 /   731
        8k       3.77 MB   709 / 980    726 / 970    854 / 1,147

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
