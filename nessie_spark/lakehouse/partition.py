"""Hidden partitioning (Iceberg partition-spec semantics).

A table may carry a partition spec in its properties
(``properties["partition-spec"]``): a list of transform fields, e.g.

    [{"source": "fmt", "transform": "identity"}]
    [{"source": "phash", "transform": "bucket", "n": 16}]
    [{"source": "image_id", "transform": "truncate", "width": 4}]

Writers derive each row's partition VALUE from its data (the user never
supplies a partition column — "hidden"), data files never span partition
values, and every manifest entry records its file's value in the existing
``partition`` column as ``name=value`` segments joined by ``/``. Readers
prune: an equality predicate on a SOURCE column maps through the transform
to the expected segment, and files whose partition disagrees are dropped
before any stats or data are read — tier 0, ahead of the min/max and
bloom tiers in scan.plan_files.

Transform twins: each transform has a Spark-expression form (the write
path, JVM-side) and a plain-Python form (the prune path, driver-side) that
MUST agree bit-for-bit; tests/test_partition_spec.py round-trips them.
``bucket`` hashes with the engine's md5-prefix h64 (functions/core.py:29)
rather than a JVM-only hash so both forms exist by construction.

Pre-spec files (``partition == ""``) are never pruned — adding a spec to
a table with history is safe, old files just don't benefit until the next
CLUSTERING rewrite regroups them (every Z-order rewrite re-derives each
row's value from data with ``row_values`` and buckets rows per value;
compaction preserves whatever value a bin already has — "" bins stay "",
by design: bins never span values, and regrouping is the clusterer's job).

Source-type rule: partition sources must be string or integer columns —
the two families whose Spark ``cast("string")`` and Python ``str()``
render identically, which is what makes the write/prune twins bit-exact.
Float, boolean, and binary sources are REJECTED at spec-use time (Spark
renders ``true``/``1.0E-7`` where Python says ``True``/``1e-07`` — a
silent wrong-prune, the worst failure mode). NULL source values partition
as the literal segment value ``null`` (Iceberg's convention) on both
sides.

Scale: the partition column rides the manifests the planner already
reads; segment matching is string equality on the driver or a Spark
filter on the distributed-planner path — no extra I/O at any table size.
"""

from __future__ import annotations

import hashlib

import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

PROPERTY_KEY = "partition-spec"
PVAL_COL = "_pval"  # staging column name on the write path

_TRANSFORMS = ("identity", "bucket", "truncate")
# str()/cast("string") agree only for these source types (see module doc)
_SOURCE_TYPES = ("string", "int", "long", "bigint")


def check_source_types(spec: list[dict], schema_ddl: str) -> None:
    """Reject sources whose Spark/Python string renderings diverge."""
    types = {}
    for f in schema_ddl.split(","):
        parts = f.strip().split()
        if len(parts) >= 2:
            types[parts[0].lower()] = parts[1].lower()
    for fld in spec:
        t = types.get(fld["source"].lower())
        if t is None:
            raise ValueError(
                f"partition source {fld['source']!r} not in table schema"
            )
        if t not in _SOURCE_TYPES:
            raise ValueError(
                f"partition source {fld['source']!r} has type {t!r}; only "
                f"{_SOURCE_TYPES} render identically in Spark and Python "
                "string form (float/boolean/binary would silently prune "
                "wrong)"
            )


def table_spec(table) -> list[dict] | None:
    """The table's partition spec, or None (unpartitioned)."""
    spec = (table.meta.get("properties") or {}).get(PROPERTY_KEY)
    if spec:
        validate_spec(spec)
        schema = table.meta.get("schema")
        if schema:
            check_source_types(spec, schema)
    return spec or None


def validate_spec(spec: list[dict]) -> None:
    if not isinstance(spec, list) or not spec:
        raise ValueError("partition-spec must be a non-empty list of fields")
    seen = set()
    for f in spec:
        if f.get("transform") not in _TRANSFORMS:
            raise ValueError(
                f"unknown partition transform {f.get('transform')!r}; "
                f"supported: {_TRANSFORMS}"
            )
        if not f.get("source"):
            raise ValueError(f"partition field {f} needs a 'source' column")
        if f["transform"] == "bucket" and not (
            isinstance(f.get("n"), int) and f["n"] > 0
        ):
            raise ValueError("bucket transform needs integer n > 0")
        if f["transform"] == "truncate" and not (
            isinstance(f.get("width"), int) and f["width"] > 0
        ):
            raise ValueError("truncate transform needs integer width > 0")
        if f["source"] in seen:
            raise ValueError(f"duplicate partition source {f['source']!r}")
        seen.add(f["source"])


def segment_name(field: dict) -> str:
    """Manifest segment key for one spec field (``fmt``, ``phash_bucket``,
    ``image_id_trunc``)."""
    t = field["transform"]
    if t == "identity":
        return field["source"]
    return f"{field['source']}_{'bucket' if t == 'bucket' else 'trunc'}"


def _h60(s: str) -> int:
    """Python twin of functions.core.h64 (md5-prefix 60-bit hash)."""
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)


def _escape_py(s: str) -> str:
    """Percent-escape the segment metacharacters (%, =, /) so a value
    containing them cannot corrupt parse_partition and wrongly prune —
    '%' first so escapes never double-decode. Twin of _escape_col."""
    return s.replace("%", "%25").replace("=", "%3D").replace("/", "%2F")


def _escape_col(c: Column) -> Column:
    c = F.replace(c, F.lit("%"), F.lit("%25"))
    c = F.replace(c, F.lit("="), F.lit("%3D"))
    return F.replace(c, F.lit("/"), F.lit("%2F"))


def transform_py(field: dict, value) -> str:
    """Driver-side transform: source value → segment value string.
    NULL sources partition as the literal ``null`` (Iceberg's convention),
    matching transform_col's coalesce. Values are escaped AFTER the
    transform (so truncate widths count raw characters on both sides)."""
    if value is None:
        value = "null"
    t = field["transform"]
    if t == "identity":
        return _escape_py(str(value))
    if t == "bucket":
        return str(_h60(str(value)) % field["n"])  # digits — nothing to escape
    return _escape_py(str(value)[: field["width"]])


def row_values(tbl, spec: list[dict]):
    """Each row's serialized partition value (``k=v/k2=v2``) as an Arrow
    string array, through the driver-side twin ``transform_py``: the value
    the Spark write path's ``partition_value_col`` stamps. ``tbl`` is a
    pyarrow table holding every source column of ``spec``."""
    seg_cols = [
        [
            f"{segment_name(f)}={transform_py(f, v)}"
            for v in tbl.column(f["source"]).to_pylist()
        ]
        for f in spec
    ]
    return pa.array(["/".join(parts) for parts in zip(*seg_cols)], pa.string())


def transform_col(field: dict) -> Column:
    """Spark-side transform (bit-identical to transform_py)."""
    from nessie_spark.functions.core import h64

    t = field["transform"]
    src = F.coalesce(F.col(field["source"]).cast("string"), F.lit("null"))
    if t == "identity":
        return _escape_col(src)
    if t == "bucket":
        return F.pmod(h64(src), F.lit(field["n"])).cast("string")
    return _escape_col(F.substring(src, 1, field["width"]))


def partition_value_col(spec: list[dict]) -> Column:
    """Full serialized partition value (``k=v/k2=v2``) as a Spark column."""
    parts = []
    for i, f in enumerate(spec):
        if i:
            parts.append(F.lit("/"))
        parts.append(F.lit(segment_name(f) + "="))
        parts.append(transform_col(f))
    return F.concat(*parts)


def expected_segments(spec: list[dict], source_eq: dict) -> dict[str, str]:
    """Map equality predicates on SOURCE columns to the manifest segments
    they pin. Sources without a predicate contribute nothing (their
    segment may take any value)."""
    out = {}
    for f in spec:
        if f["source"] in source_eq:
            out[segment_name(f)] = transform_py(f, source_eq[f["source"]])
    return out


def parse_partition(pval: str) -> dict[str, str]:
    if not pval:
        return {}
    out = {}
    for seg in pval.split("/"):
        k, _, v = seg.partition("=")
        out[k] = v
    return out


def entry_matches(entry_partition: str, expected: dict[str, str]) -> bool:
    """File-level prune check: an entry survives unless one of its
    segments CONTRADICTS an expected value. Pre-spec entries ("" — no
    segments) always survive; so do entries whose spec lacks a pinned
    segment (spec evolution)."""
    if not expected:
        return True
    segs = parse_partition(entry_partition)
    return all(segs.get(k, v) == v for k, v in expected.items())


def stamp_pval(df: DataFrame, spec: list[dict]) -> DataFrame:
    """Write path: derive the hidden partition value column."""
    return df.withColumn(PVAL_COL, partition_value_col(spec))
