"""The oracle caches keep one fingerprint per key: installing a new one
removes that key's older directories, leaves other keys and in-progress
``*.tmp.*`` writes alone."""

import os

from ferenda_spark import kgcache
from ferenda_spark.operators import dedup


def _dirs(root):
    return sorted(os.listdir(root))


def test_kg_cache_keeps_newest_fingerprint(tmp_path, monkeypatch):
    root = tmp_path / ".kg_cache"
    for d in ("n5_old", "n5_old.tmp.123", "n50_old", "n7_old"):
        (root / d).mkdir(parents=True)
    monkeypatch.setattr(kgcache, "_REPO_ROOT", str(tmp_path))
    monkeypatch.setattr(kgcache, "_fingerprint", lambda: "new")
    monkeypatch.setattr(kgcache, "_build_tables",
                        lambda n: {t: [] for t in kgcache.TABLES})
    paths = kgcache.ensure_kg_tables(5)
    assert all(os.path.exists(p) for p in paths.values())
    assert _dirs(root) == ["n50_old", "n5_new", "n5_old.tmp.123", "n7_old"]
    kgcache.ensure_kg_tables(5)     # a hit changes nothing
    assert _dirs(root) == ["n50_old", "n5_new", "n5_old.tmp.123", "n7_old"]


def test_dedup_cache_keeps_newest_fingerprint_per_name_and_sf(
        tmp_path, monkeypatch):
    root = tmp_path / ".dedup_cache"
    monkeypatch.setattr(dedup, "_CACHE_ROOT", str(root))
    sf_a, sf_b = tmp_path / "a" / "sf1", tmp_path / "b" / "sf2"
    for sf in (sf_a, sf_b):
        sf.mkdir(parents=True)
        (sf / "documents.parquet").write_bytes(b"v1")

    def oracle(sf, name):
        return dedup._cached_oracle(
            str(sf), name, (), lambda p: open(p, "wb").close())

    first = oracle(sf_a, "pairs")
    oracle(sf_b, "pairs")
    oracle(sf_a, "other")
    assert len(_dirs(root)) == 3
    (sf_a / "documents.parquet").write_bytes(b"v2")   # a new fingerprint
    second = oracle(sf_a, "pairs")
    assert second != first and os.path.exists(second)
    assert not os.path.exists(first)
    names = _dirs(root)
    assert len(names) == 3
    assert sum(n.startswith("pairs_sf1_") for n in names) == 1
    assert sum(n.startswith("pairs_sf2_") for n in names) == 1
    assert sum(n.startswith("other_sf1_") for n in names) == 1
