"""Generator tests: a seed fixes the inputs byte for byte, and every
generated table has exactly the schema of the engine's fixtures.

Run with ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import importlib.util
import os
import sys

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
sys.path.insert(0, os.path.dirname(HERE))

import gen  # noqa: E402

SMALL = gen.Sizes(sf=0.001, docs=300, vecs=120)


def _files(d: str) -> dict[str, bytes]:
    return {n: open(os.path.join(d, f"{n}.parquet"), "rb").read() for n in gen.SCHEMAS}


def test_same_seed_same_bytes_other_seed_other_data(tmp_path):
    gen.generate(str(tmp_path / "a"), 7, SMALL)
    gen.generate(str(tmp_path / "b"), 7, SMALL)
    gen.generate(str(tmp_path / "c"), 8, SMALL)
    a, b, c = (_files(str(tmp_path / x)) for x in "abc")
    assert a == b
    # region and nation are fixed by the key layout; the rest is drawn
    assert {n for n in a if a[n] != c[n]} == set(gen.SCHEMAS) - {"region", "nation"}


def test_corpus_plants_near_duplicates_and_eval_leaks(tmp_path):
    import numpy as np

    texts = gen.corpus_texts(np.random.default_rng(3), 2000)
    n_dup = len(texts) - len({t.removesuffix(" dup") for t in texts})
    assert 0.05 * len(texts) < n_dup < 0.15 * len(texts)
    lens = [len(t.split(" ")) for t in texts]
    assert min(lens) >= 10 and max(lens) <= 100 + 1 + gen.LEAK_WORDS
    assert {w for t in texts for w in t.split(" ")} <= set(gen.VOCAB) | {"dup"}


def _fixture_dir() -> str | None:
    spec = importlib.util.spec_from_file_location(
        "engine_conftest", os.path.join(ROOT, "tests", "conftest.py")
    )
    if spec is None or not os.path.exists(spec.origin):
        return None
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.SF_SMOKE if os.path.isdir(mod.SF_SMOKE) else None


def _physical(path: str) -> list[tuple[str, str, str]]:
    """Per column: name, parquet physical type and logical type (for a
    timestamp: its unit and whether it is adjusted to UTC)."""
    schema = pq.ParquetFile(path).schema
    return [
        (c.name, c.physical_type, str(c.logical_type))
        for c in (schema.column(i) for i in range(len(schema)))
    ]


def test_schemas_equal_the_fixtures(tmp_path):
    fixtures = _fixture_dir()
    if fixtures is None:
        pytest.skip("engine fixtures not present")
    gen.generate(str(tmp_path), 1, SMALL)
    for name in gen.SCHEMAS:
        want_path = os.path.join(fixtures, f"{name}.parquet")
        got_path = str(tmp_path / f"{name}.parquet")
        want = pq.read_schema(want_path).remove_metadata()
        got = pq.read_schema(got_path).remove_metadata()
        assert got.equals(want), name
        # the footers too: Spark reads these, not the Arrow schema
        assert _physical(got_path) == _physical(want_path), name
