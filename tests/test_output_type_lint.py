"""Registry-wide output-type lint: NO driver-facing query may emit an
ARRAY / MAP / STRUCT column (VERDICT r10 task 1 — kill the class, not
the instance).

The round driver canonicalizes both the Spark result and the DuckDB
oracle result through a pandas frame: it ``sort_values`` over ALL
columns and Categorical-factorizes each before hashing. A list cell
raises "unhashable type: 'list'" inside that canon — the query ERRORs
at the driver even when every value matches (r10's ``text_vocab_ids``:
639/639 green locally, driver-ERR in the window, because the local
canon stringifies list cells while the driver's does not).

The contract is therefore: driver-facing results are SCALAR columns
only. Sequence-valued outputs must be serialized in the query itself —
the same serialization on both sides — e.g. ``F.array_join(ids.cast(
"array<string>"), " ")`` in Spark and ``array_to_string(list(...),
' ')`` in the DuckDB oracle, as text_vocab_ids now does
(queries/llm_text.py).

Two checks per oracle-bearing query, both schema-only (no execution):

  * the Spark DataFrame schema contains no ArrayType/MapType/StructType
    field (checked for ALL registry entries, including rows-only ones —
    the driver's weaker check still rowcounts through pandas);
  * the DuckDB oracle's inferred result types contain no
    LIST/STRUCT/MAP/array type.

There is deliberately NO escape-hatch annotation: a query that needs a
sequence output serializes it.
"""

from __future__ import annotations

import pytest

from conftest import registry_sweep_params
from pyspark.sql import types as T

from scripts.check_correctness import oracle_connection
from supabase_etl_spark.queries import load_all

SF = "/root/testdata/sf0.001"

_REGISTRY = load_all()

_COMPLEX = (T.ArrayType, T.MapType, T.StructType)


@pytest.mark.parametrize("name", registry_sweep_params(sorted(_REGISTRY)))
def test_spark_output_is_scalar_only(spark, name):
    spec = _REGISTRY[name]
    df = spec.fn(spark, SF)
    bad = [
        f"{f.name}: {f.dataType.simpleString()}"
        for f in df.schema.fields
        if isinstance(f.dataType, _COMPLEX)
    ]
    assert not bad, (
        f"{name} emits non-scalar driver-facing column(s) — the driver's "
        f"pandas canon crashes on list/struct/map cells. Serialize them "
        f"(array_join / to_json) on BOTH sides instead:\n" + "\n".join(bad)
    )


@pytest.fixture(scope="module")
def duck():
    con = oracle_connection(SF)
    yield con
    con.close()


@pytest.mark.parametrize(
    "name", sorted(n for n, s in _REGISTRY.items() if s.oracle is not None)
)
def test_oracle_output_is_scalar_only(duck, name):
    rel = duck.sql(_REGISTRY[name].oracle)
    bad = [
        f"{c}: {t}"
        for c, t in zip(rel.columns, rel.types)
        if any(k in str(t).upper() for k in ("LIST", "STRUCT", "MAP", "["))
    ]
    assert not bad, (
        f"{name}'s DuckDB oracle returns non-scalar column(s) — the "
        f"driver's pandas canon crashes on them. Serialize with "
        f"array_to_string / to_json in the oracle SQL:\n" + "\n".join(bad)
    )
