"""Standing proof gates for query membership (round-7 verdict #8).

The 22 defects round 7 found all came from attacking already-green
queries with the nine proof families (empty corpus, singleton corpus,
the seven seeded fuzz storms). Those contracts must not depend on a
human remembering to extend a name list in some test file, so:

* the empty-corpus and singleton-corpus sweeps already iterate
  ``registry.all_queries()`` — every registration joins automatically;
* membership is declared at the registration site
  (``register(..., families=("text", "multibyte"))``), and ``register``
  refuses a registration without it or with an unknown key;
* every family key has a reader: a family nobody reads would let a
  declaring query join no test, silently.
"""

from __future__ import annotations

import pathlib

import pytest

from spark_state_provider_spark.operators import registry

_HERE = pathlib.Path(__file__).resolve()


def test_every_family_key_is_read():
    readers = [_HERE.parent.parent / "bench.py"] + [
        p for p in _HERE.parent.glob("*.py") if p != _HERE
    ]
    text = "".join(p.read_text(encoding="utf-8") for p in readers)
    unread = sorted(k for k in registry.FAMILIES if f'family("{k}")' not in text)
    assert not unread, f"family keys no test or bench reads: {unread}"


def test_new_queries_declare_fuzz_families():
    with pytest.raises(TypeError):
        registry.register("q_gate_probe", oracle="SELECT 1 AS x")


def test_declared_families_are_known():
    with pytest.raises(ValueError, match="dates"):
        registry.register(
            "q_gate_probe", oracle="SELECT 1 AS x", families=("text", "dates")
        )(lambda spark, sf_dir: None)
    assert "q_gate_probe" not in registry._REGISTRY
