"""Per-file key blooms (lakehouse/bloom.py): point lookups prune files the
min/max key range cannot — the case that matters is AFTER a Z-order
rewrite, where every file's image_id range is wide by construction."""

from nessie_spark.lakehouse import zorder
from nessie_spark.lakehouse.bloom import (
    bloom_from_keys, bloom_might_contain, bloom_or,
)
from nessie_spark.lakehouse.scan import plan_files, scan
from tests.conftest import make_table

TARGET = 256 * 1024


def test_bloom_unit_semantics():
    b = bloom_from_keys([f"img_{i:012d}" for i in range(100)])
    assert all(bloom_might_contain(b, f"img_{i:012d}") for i in range(100))
    # no false positive in a 1000-probe sample at n=100, m=2048, k=5
    fp = sum(bloom_might_contain(b, f"absent_{i}") for i in range(1000))
    assert fp <= 2
    ab = bloom_or(bloom_from_keys(["a"]), bloom_from_keys(["b"]))
    assert bloom_might_contain(ab, "a") and bloom_might_contain(ab, "b")
    assert bloom_or(None, b) == b
    assert bloom_might_contain(None, "anything")  # pre-bloom entries: unknown


def test_point_lookup_prunes_after_zorder(spark, tmp_path):
    t, _ = make_table(spark, str(tmp_path / "tb"))
    zorder.cluster(spark, t, target_bytes=TARGET, job_id="zb")
    t = t.refresh()
    entries = t.file_entries().to_pylist()
    assert len(entries) > 2
    key = "img_000000000123"
    # range-only pruning is useless here: curve order makes key ranges wide
    range_hits = [
        e for e in entries if e["min_key"] <= key <= e["max_key"]
    ]
    assert len(range_hits) > 1
    bloom_hits = plan_files(t, key_eq=key)
    assert 1 <= len(bloom_hits) < len(range_hits)
    rows = scan(spark, t, key_eq=key).collect()
    assert [r.image_id for r in rows] == [key]
    # absent key: bloom says definitely-not for (almost) every file; the
    # scan is empty either way
    assert len(plan_files(t, key_eq="img_999999999999")) <= 1
    assert scan(spark, t, key_eq="img_999999999999").count() == 0


def test_bloom_survives_compact_and_staged_zorder(spark, tmp_path):
    from nessie_spark.lakehouse import compact

    t, _ = make_table(spark, str(tmp_path / "tb"))
    compact.compact(spark, t, target_bytes=TARGET, job_id="cb")
    t = t.refresh()
    assert all(e["key_bloom"] is not None for e in t.file_entries().to_pylist())
    zorder.cluster(spark, t, target_bytes=TARGET, job_id="zs")
    t = t.refresh()
    entries = t.file_entries().to_pylist()
    assert all(e["key_bloom"] is not None for e in entries)
    key = "img_000000000042"
    assert scan(spark, t, key_eq=key).count() == 1
    assert len(plan_files(t, key_eq=key)) < len(entries)
