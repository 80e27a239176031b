"""Field-id schema model — the indirection that makes rename/drop safe.

Iceberg's core schema-evolution rule (spec §Schemas): columns are tracked
by immutable numeric FIELD IDS, never by name. A rename changes only the
display name of an id; a drop retires the id forever; re-adding a name
allocates a FRESH id — so data stored under the dropped column can never
resurrect under the new one. This module is that model for the engine's
JSON metadata:

    meta["schemas"]           {schema_id(str) -> [{id, name, type}, ...]}
    meta["current_schema_id"] int
    meta["last_field_id"]     int   (high-water mark, NEVER reused)
    meta["schema"]            DDL string, kept in sync with the current
                              fields (every pre-existing reader keys off it)

Tables created before this model (or never evolved beyond add-column)
carry none of these keys; every helper here treats that as schema 0 =
fields derived from the current DDL with ids assigned by position. That is
sound because renames/drops can only exist AFTER the model is materialized
— before that, every physical file column name equals its current name
(add-column history only appends), so the identity mapping is exact.

Per-file resolution: each snapshot records the ``schema_id`` current when
it committed, and each manifest entry written since carries it too; a file
therefore knows the NAMES its parquet columns were written under. Readers
project any file to any target schema by id:

    physical name of target field f in file with schema s
        = name of id(f) in schema s   (absent id -> NULL-fill)

Legacy entries (no schema_id) resolve via their added_snapshot_id, else
default to 0 — exact for all pre-model files.
"""

from __future__ import annotations

import pyarrow as pa

# columns the engine depends on structurally — zorder/stats keys, the
# MERGE/delete join key, and the codec inputs. Renaming or dropping one
# would orphan manifest stats and kernels; refuse loudly.
RESERVED_FIELDS = frozenset({"image_id", "bytes", "w", "h", "fmt", "phash"})


def fields_from_ddl(ddl: str) -> list[dict]:
    """Positional field ids (1-based) for a DDL string — the schema-0
    bootstrap for tables that predate the field-id model."""
    out = []
    for i, part in enumerate(ddl.split(",")):
        name, sql_type = part.strip().split(None, 1)
        out.append({"id": i + 1, "name": name, "type": sql_type.strip().lower()})
    return out


def ddl_from_fields(fields: list[dict]) -> str:
    return ", ".join(f"{f['name']} {f['type']}" for f in fields)


def materialized(meta: dict) -> dict:
    """The three model keys, derived for a legacy table if absent."""
    if "schemas" in meta:
        return {
            "schemas": meta["schemas"],
            "current_schema_id": meta["current_schema_id"],
            "last_field_id": meta["last_field_id"],
        }
    f0 = fields_from_ddl(meta["schema"])
    return {"schemas": {"0": f0}, "current_schema_id": 0, "last_field_id": len(f0)}


def current_schema_id(meta: dict) -> int:
    return int(meta.get("current_schema_id", 0))


def schema_fields(meta: dict, sid: int) -> list[dict]:
    schemas = meta.get("schemas")
    if schemas is not None and str(sid) in schemas:
        return schemas[str(sid)]
    # legacy table, or sid 0 before materialization: current DDL stands in
    # (over-claiming a later-added column is harmless — readers NULL-fill
    # physically absent columns; names never changed pre-model)
    return fields_from_ddl(meta["schema"])


def sid_by_snapshot(meta: dict) -> dict[int, int]:
    return {
        s["snapshot_id"]: int(s.get("schema_id", 0)) for s in meta.get("snapshots", [])
    }


def entry_schema_id(entry: dict, snap_sids: dict[int, int]) -> int:
    sid = entry.get("schema_id")
    if sid is not None:
        return int(sid)
    return snap_sids.get(entry.get("added_snapshot_id"), 0)


# legal type promotions (Iceberg spec §Schema Evolution: widen only — a
# widened read is lossless; narrowing or cross-family changes are refused)
WIDENINGS = {("int", "long"), ("int", "bigint"), ("float", "double")}


def projection(meta: dict, source_sid: int, target_fields: list[dict]) -> list[tuple]:
    """How to read a file written under ``source_sid`` as ``target_fields``:
    [(physical_name | None, source_type | None, current_name, target_type)]
    in target order. ``physical_name is None`` -> the field id does not
    exist in the source schema (added later, or dropped-and-readded) ->
    NULL-fill. ``source_type != target_type`` -> the field was WIDENED
    after the file was written -> read at the stored type, cast up."""
    by_id = {f["id"]: (f["name"], f["type"]) for f in schema_fields(meta, source_sid)}
    return [
        (*(by_id.get(f["id"]) or (None, None)), f["name"], f["type"])
        for f in target_fields
    ]


def is_identity(proj: list[tuple], source_names: set[str]) -> bool:
    """True when a plain NAME-BASED read of this group is exact — the fast
    path: one read, no per-group remap. That requires every target field to
    either read a physical column of the SAME name AND type, or be a
    NULL-fill whose name the source schema NEVER carried (files hold
    exactly their schema's columns, so a name-read then finds nothing and
    null-fills — the add-column case). A NULL-fill whose name the source
    DID carry is the dropped-and-readded trap: the file physically stores
    the OLD field's data under that name, and a name-read would resurrect
    it. A type mismatch (widening) forces the grouped path: the file must
    be read at its STORED type and cast up."""
    return all(
        (phys == cur and styp == ttyp)
        or (phys is None and cur not in source_names)
        for phys, styp, cur, ttyp in proj
    )


def remap_arrow(tbl: pa.Table, proj: list[tuple], arrow_types: dict) -> pa.Table:
    """Project a pyarrow table read from a raw data file onto the target
    fields: rename by id, NULL-fill absent ids, widen stored types, drop
    retired columns. ``arrow_types``: sql type -> pa.DataType
    (writer._DDL_ARROW)."""
    cols, names = [], []
    phys_names = set(tbl.schema.names)
    for phys, _styp, cur, sql_type in proj:
        want = arrow_types[sql_type]
        if phys is not None and phys in phys_names:
            col = tbl.column(phys)
            cols.append(col.cast(want) if col.type != want else col)
        else:
            cols.append(pa.nulls(tbl.num_rows, want))
        names.append(cur)
    return pa.table(dict(zip(names, cols)))


def live_projection_maps(table, paths: list[str] | None = None) -> dict:
    """{file_path: projection} for live files whose raw read needs a
    field-id remap onto the CURRENT schema — {} when the table has never
    seen a rename/drop (the common case: zero extra I/O beyond a metadata
    key check). ``operators/maintenance.py`` counts these maps to show
    that a rewrite pays the evolution debt off; the rewrites themselves
    (compaction, Z-order, purge) read through ``scan._read_partition_table``,
    which projects every file by field id.

    ``paths``: restrict to these file_paths (the planned inputs).

    Scale note: resolving per-file schema versions reads (file_path,
    added_snapshot_id, schema_id) from the manifests driver-side. That is
    metadata-sized, but on the distributed-planner paths it is the one
    spot where evolution debt costs a driver pass; it amortizes to zero
    because every rewrite re-stamps its outputs with the current schema.
    """
    meta = table.meta
    schemas = meta.get("schemas")
    if not schemas or len(schemas) <= 1:
        return {}
    target = schema_fields(meta, current_schema_id(meta))
    sids = sorted(int(k) for k in schemas)
    projs = {s: projection(meta, s, target) for s in sids}
    names = {s: {f["name"] for f in schema_fields(meta, s)} for s in sids}
    nonid = {s for s in sids if not is_identity(projs[s], names[s])}
    if not nonid:
        return {}
    snap_sids = sid_by_snapshot(meta)
    want = set(paths) if paths is not None else None
    out = {}
    for e in table.file_entries(
        columns=["file_path", "added_snapshot_id", "schema_id"]
    ).to_pylist():
        if want is not None and e["file_path"] not in want:
            continue
        s = entry_schema_id(e, snap_sids)
        if s in nonid:
            out[e["file_path"]] = projs[s]
    return out
