"""Bloom-filter file-skipping index for non-key columns (≙ Hudi's
bloom index / metadata-table bloom filters, and the data-skipping
sidecars every lakehouse format grew: Delta stats, Iceberg puffin).

The engine's lake already prunes by record key (hash buckets) and by
min/max (key-sorted / z-ordered compaction tightens parquet footer
stats). This adds the third classic pruning axis: EQUALITY lookups on
an arbitrary column whose values don't cluster — where min/max ranges
overlap everywhere and row-group stats can't help.

Design, 100 TB first:

- the index is built by Spark itself: one scan of (column,
  input_file_name), then ``bit_or`` aggregation of per-row bitmasks
  grouped by file — partial aggregation makes each map task emit one
  ``words``-long mask per file it touched, so the shuffle carries
  O(files x words x 8 bytes), never rows. No driver-side hashing, no
  collect of data.
- the stored artifact is tiny (default 1024 bits = 16 longs per
  file) and lives in ONE json sidecar per indexed column — reading
  it is a driver-side metadata fetch, the same cost class as reading
  a commit log.
- lookups hash the probe value with the engine's PORTABLE md5 family
  (k=3 probes), intersect with each file's mask, and hand Spark the
  surviving file list: the query plan is then an ordinary pruned
  parquet scan — pushdown and codegen untouched. Bloom semantics:
  no false negatives ever; false positives only cost extra files
  scanned, correctness is preserved by the normal filter on top.
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import json
import math
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

BITS = 1024
WORDS = BITS // 64
K = 3

_DBL_MIN = 2.2250738585072014e-308  # smallest normal double


def _java_double_str(x: float) -> str:
    """Render a double exactly as Java's ``Double.toString`` — which is
    what Spark's ``CAST(double AS STRING)`` emits. Python's ``repr``
    picks the same shortest round-trip digits but formats them
    differently (``1e-07`` vs ``1.0E-7``), so the digits are re-laid-out
    per the Java rules: plain decimal for 1e-3 <= |x| < 1e7, otherwise
    ``d.dddE<exp>`` scientific, always >=1 fractional digit."""
    if math.isnan(x):
        return "NaN"
    if math.isinf(x):
        return "Infinity" if x > 0 else "-Infinity"
    if x == 0.0:
        return "-0.0" if math.copysign(1.0, x) < 0 else "0.0"
    a = abs(x)
    if a < _DBL_MIN:
        # legacy Java FloatingDecimal emits non-shortest digits for
        # subnormals (5e-324 -> "4.9E-324"); refuse rather than risk a
        # bloom false negative
        raise TypeError(
            f"subnormal double probe {x!r} not supported by the bloom "
            "index (Java rendering diverges); filter without the index"
        )
    d = decimal.Decimal(repr(a))
    digs = "".join(map(str, d.as_tuple().digits)).rstrip("0") or "0"
    adj = d.adjusted()
    sign = "-" if x < 0 else ""
    if -3 <= adj <= 6:
        if adj >= 0:
            ip = digs[: adj + 1].ljust(adj + 1, "0")
            fp = digs[adj + 1 :] or "0"
            return f"{sign}{ip}.{fp}"
        return f"{sign}0.{'0' * (-adj - 1)}{digs}"
    mant = digs[0] + "." + (digs[1:] or "0")
    return f"{sign}{mant}E{adj}"


def _spark_cast_string(value) -> str:
    """Render a Python probe value exactly as Spark's
    ``CAST(col AS STRING)`` renders the column — the index was built
    from that rendering, so any divergence here is a silent bloom
    FALSE NEGATIVE (``True`` vs ``true``, ``1e-07`` vs ``1.0E-7``)."""
    if value is None:
        raise TypeError(
            "cannot probe the bloom index for NULL (nulls hash to no "
            "positions at build time); scan with IS NULL instead"
        )
    if isinstance(value, bool):
        return "true" if value else "false"
    if isinstance(value, str):
        return value
    if isinstance(value, int):
        return str(value)
    if isinstance(value, float):
        return _java_double_str(value)
    if isinstance(value, decimal.Decimal):
        # BigDecimal.toString == Python Decimal str (both follow the
        # General Decimal Arithmetic spec); the probe must carry the
        # column's declared scale (Decimal('1.500') for decimal(_,3))
        return str(value)
    if isinstance(value, datetime.datetime):
        if value.tzinfo is not None:
            raise TypeError(
                "probe timestamps must be naive session-timezone wall "
                "time (Spark renders timestamps in the session zone)"
            )
        s = value.strftime("%Y-%m-%d %H:%M:%S")
        if value.microsecond:
            s += f".{value.microsecond:06d}".rstrip("0")
        return s
    if isinstance(value, datetime.date):
        return value.isoformat()
    raise TypeError(
        f"unsupported bloom probe type {type(value).__name__}; index "
        "supports string/int/bool/float/Decimal/date/timestamp"
    )


def _positions_col(col, k: int = K, bits: int = BITS):
    """The k bloom bit positions of a column value (portable md5)."""
    return [
        F.conv(
            F.substring(
                F.md5(F.concat(col.cast("string"), F.lit(f"|bloom{i}"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % bits
        for i in range(k)
    ]


def _positions_py(value, k: int = K, bits: int = BITS) -> list[int]:
    rendered = _spark_cast_string(value)
    return [
        int(
            hashlib.md5(f"{rendered}|bloom{i}".encode()).hexdigest()[:8],
            16,
        )
        % bits
        for i in range(k)
    ]


def index_path(dir_path: str, column: str) -> str:
    return os.path.join(dir_path, f"_bloom_index_{column}.json")


def index_parquet_path(dir_path: str, column: str) -> str:
    return os.path.join(dir_path, f"_bloom_index_{column}_pq")


def _mask_agg(spark: SparkSession, dir_path: str, column: str) -> DataFrame:
    """One scan of (column, input_file_name) -> one mask row per file.
    Partial aggregation means each map task emits one WORDS-long mask
    per file it touched; the shuffle carries O(files x words x 8 B)."""
    df = (
        spark.read.option("recursiveFileLookup", "true")
        .parquet(dir_path)
        .select(
            F.input_file_name().alias("_file"), F.col(column).alias("_v")
        )
    )
    pos = _positions_col(F.col("_v"))
    word_exprs = []
    for w in range(WORDS):
        m = F.lit(0).cast("long")
        for p in pos:
            m = m.bitwiseOR(F.when(
                (p / 64).cast("int") == w,
                F.call_function(
                    "shiftleft", F.lit(1).cast("long"), (p % 64).cast("int")
                ),
            ).otherwise(F.lit(0).cast("long")))
        word_exprs.append(F.bit_or(m).alias(f"w{w}"))
    prefix = "file://" + os.path.abspath(dir_path).rstrip("/") + "/"
    rel = F.when(
        F.col("_file").startswith(prefix),
        F.col("_file").substr(F.lit(len(prefix) + 1), F.length("_file")),
    ).otherwise(F.col("_file"))
    return df.groupBy("_file").agg(*word_exprs).select(
        rel.alias("file"), *[F.col(f"w{w}") for w in range(WORDS)]
    )


# above this many files the json sidecar (one driver-side mask row
# per file) flips to the distributed parquet sidecar automatically —
# ~10k masks is still comfortably driver-metadata, beyond it isn't
AUTO_PARQUET_FILE_THRESHOLD = 10_000


def build_bloom_index(
    spark: SparkSession,
    dir_path: str,
    column: str,
    sidecar_format: str = "auto",
) -> dict[str, list[int]] | int:
    """Scan the parquet files under ``dir_path`` once and write the
    per-file bloom sidecar for ``column``.

    ``sidecar_format="json"`` (metadata-scale tables): the masks pass
    through the driver into one json sidecar; returns {file: masks}.
    ``"parquet"`` (millions of files): the aggregated mask table is
    written DISTRIBUTED — no mask ever reaches the driver — and
    lookups resolve candidates with a Spark filter that collects only
    the matching paths; returns the file count. ``"auto"`` (default)
    picks json below AUTO_PARQUET_FILE_THRESHOLD files and parquet at
    or above it, so the driver-collect path can never be selected by
    default on a millions-of-files table."""
    agg = _mask_agg(spark, dir_path, column)
    if sidecar_format == "auto":
        # recursive walk, matching _mask_agg's recursiveFileLookup
        n_files = sum(
            1
            for _, _, fs in os.walk(dir_path)
            for f in fs
            if f.endswith(".parquet") and not f.startswith("_")
        )
        sidecar_format = (
            "parquet" if n_files >= AUTO_PARQUET_FILE_THRESHOLD else "json"
        )
    if sidecar_format == "parquet":
        agg.write.mode("overwrite").parquet(
            index_parquet_path(dir_path, column)
        )
        return spark.read.parquet(
            index_parquet_path(dir_path, column)
        ).count()
    rows = agg.collect()  # one mask row per file (metadata scale)
    index = {
        r["file"]: [r[f"w{w}"] for w in range(WORDS)] for r in rows
    }
    with open(index_path(dir_path, column), "w") as fh:
        json.dump({"bits": BITS, "k": K, "files": index}, fh)
    return index


def candidate_files(
    dir_path: str, column: str, value
) -> tuple[list[str], int]:
    """Files that MAY contain value (bloom intersect); (files, total)."""
    with open(index_path(dir_path, column)) as fh:
        idx = json.load(fh)
    return bloom_candidates(idx, dir_path, value), len(idx["files"])


def bloom_candidates(idx: dict, dir_path: str, value) -> list[str]:
    """The files of a loaded json sidecar ``idx`` whose bloom masks
    admit ``value`` (sorted absolute paths)."""
    pos = _positions_py(value, idx["k"], idx["bits"])
    return sorted(
        os.path.join(dir_path, rel)
        for rel, words in idx["files"].items()
        if all(words[p // 64] & (1 << (p % 64)) for p in pos)
    )


def candidate_files_distributed(
    spark: SparkSession, dir_path: str, column: str, value
) -> tuple[list[str], int]:
    """Parquet-sidecar candidate resolution: the bit-intersect runs as
    a Spark filter over the mask table, so the driver only ever
    receives the MATCHING paths — the 100 TB / millions-of-files shape
    (the json path collects every mask driver-side)."""
    idx = spark.read.parquet(index_parquet_path(dir_path, column))
    pos = _positions_py(value)
    cond = F.lit(True)
    for p in pos:
        bit = F.call_function(
            "shiftleft", F.lit(1).cast("long"), F.lit(p % 64)
        )
        cond = cond & (
            F.col(f"w{p // 64}").bitwiseAND(bit) == bit
        )
    matching = [
        os.path.join(dir_path, r["file"])
        for r in idx.filter(cond).select("file").collect()
    ]
    return sorted(matching), idx.count()


def read_with_bloom(
    spark: SparkSession, dir_path: str, column: str, value
) -> DataFrame:
    """Equality scan pruned by the bloom sidecar: only candidate files
    are opened; the residual filter keeps exactness (false positives
    are filtered, false negatives cannot occur). Uses the distributed
    parquet sidecar when present, else the json one."""
    if os.path.exists(index_parquet_path(dir_path, column)):
        files, _ = candidate_files_distributed(
            spark, dir_path, column, value
        )
    else:
        files, _ = candidate_files(dir_path, column, value)
    if not files:
        schema = (
            spark.read.option("recursiveFileLookup", "true")
            .parquet(dir_path)
            .schema
        )
        return spark.createDataFrame([], schema)
    return spark.read.parquet(*files).filter(F.col(column) == value)
