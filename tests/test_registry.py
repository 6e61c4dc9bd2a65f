"""The registry's record layout, checked without Spark: one builder per key,
its oracle in the same family module, and exactly the documented keys
without an oracle."""

from __future__ import annotations

import pkgutil

from area_etl_spark import registry

ROWS_ONLY = {
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_ngram_jaccard",
    "dedup_full_pipeline",
    "stratified_sample_by",
    "compression_ratio",
}


def _defined(prefix: str) -> dict[str, list[str]]:
    out: dict[str, list[str]] = {}
    for mod in registry.FAMILIES:
        for name, fn in vars(mod).items():
            if name.startswith(prefix) and getattr(fn, "__module__", None) == mod.__name__:
                out.setdefault(name[len(prefix):], []).append(mod.__name__)
    return out


def test_every_family_module_is_listed():
    on_disk = {m.name for m in pkgutil.iter_modules(registry.__path__) if not m.name.startswith("_")}
    assert on_disk == {mod.__name__.rsplit(".", 1)[1] for mod in registry.FAMILIES}


def test_one_record_per_key():
    builders, oracles = _defined("q_"), _defined("o_")
    assert {k: mods for k, mods in builders.items() if len(mods) != 1} == {}
    assert {k: mods for k, mods in oracles.items() if mods != builders.get(k)} == {}
    assert set(builders) - set(oracles) == ROWS_ONLY
    assert len(builders) == len(registry.builders())
