"""Unit tests for the FK cascade resolver (J1-J4), mirroring
tests/services/csv-import.test.js:194-230 and :297-366."""

from __future__ import annotations

from pyspark.sql import functions as F

from advanced_strapi_import_spark.operators import resolve as R
from fixtures_ct import COUNTRIES, REGISTRY

COUNTRY = REGISTRY.get("country")
COMPANY = REGISTRY.get("company")
USERS = REGISTRY.get("users")


def _countries(spark):
    return spark.createDataFrame(COUNTRIES, "id long, name string, code string")


def _vals(spark, vals):
    return spark.createDataFrame([(v,) for v in vals], f"{R.VALUE_COL} string")


def resolved_map(spark, vals, **kw):
    out = R.resolve_values(_vals(spark, vals), _countries(spark), COUNTRY, REGISTRY, **kw)
    return {r[R.VALUE_COL]: r[R.RESOLVED_COL] for r in out.collect()}


def test_cascade_exact_name_case_insensitive(spark):
    m = resolved_map(spark, ["india", "CHINA", "nowhere"])
    assert m == {"india": 1, "CHINA": 3}


def test_cascade_numeric_id(spark):
    m = resolved_map(spark, ["2", "99"])
    assert m == {"2": 2}


def test_id_arm_is_number_equality_on_numeric_literals(spark):
    # JS Number(value) == id: padding, sign, decimals and exponents all
    # reach the id; a numeric value never probes the name entries, so
    # '2.00' stays unresolved against a row NAMED '2.0', while '2.0'
    # itself resolves through the name arm
    dim = spark.createDataFrame(
        [(0, "Zero", "Z0"), (1, "2.0", "TWO"), (7, "Seven", "S7")],
        "id long, name string, code string",
    )
    vals = [" 7 ", "+7", "7.0", "7e0", "-0", "2.0", "2.00"]
    out = R.resolve_values(_vals(spark, vals), dim, COUNTRY, REGISTRY)
    m = {r[R.VALUE_COL]: r[R.RESOLVED_COL] for r in out.collect()}
    assert m == {" 7 ": 7, "+7": 7, "7.0": 7, "7e0": 7, "-0": 0, "2.0": 1}


def test_cascade_contains_fallback(spark):
    # no exact match; 'nited Stat' is contained in 'United States'
    m = resolved_map(spark, ["nited Stat"])
    assert m == {"nited Stat": 2}


def test_cascade_search_field(spark):
    m = resolved_map(spark, ["in", "US"], search_field="code")
    # exact $eqi on code: IN -> 1, US -> 2 (not USA id 4 via name)
    assert m == {"in": 1, "US": 2}


def test_precedence_id_beats_name_contains(spark):
    # value '1' is numeric -> id arm (rank before contains arm)
    m = resolved_map(spark, ["1"])
    assert m == {"1": 1}


def test_search_field_contains_beats_lower_exact(spark):
    # Reference strategy order (csv-import.js findRelatedEntity):
    # searchField $eqi, searchField $containsi, id, common-field $eqi.
    # Value '5' misses code-exact, HITS code-contains ('X5Y' contains
    # '5') and also hits the lower-precedence id arm (id=5). The
    # contains hit must win — the old all-exact-arms anti-join would
    # never generate it.
    dim = spark.createDataFrame(
        [(1, "Aland", "X5Y"), (5, "Five", "FV")],
        "id long, name string, code string",
    )
    out = R.resolve_values(
        _vals(spark, ["5"]), dim, COUNTRY, REGISTRY, search_field="code"
    )
    m = {r[R.VALUE_COL]: r[R.RESOLVED_COL] for r in out.collect()}
    assert m == {"5": 1}


def test_both_contains_arms_live(spark):
    # search field 'code' gives a code-contains arm (rank 1) and the
    # common field 'name' a name-contains arm (last rank); one theta
    # join serves both and ranks each hit by the first arm that hit
    dim = spark.createDataFrame(
        [(1, "Alpha", "ZZ9"), (2, "Zulu", "AB")],
        "id long, name string, code string",
    )
    out = R.resolve_values(
        _vals(spark, ["z", "a", "ul", "lph", "ZULU", "ab", "q"]), dim,
        COUNTRY, REGISTRY, search_field="code",
    )
    m = {r[R.VALUE_COL]: r[R.RESOLVED_COL] for r in out.collect()}
    assert m == {
        "z": 1,     # code contains (ZZ9) beats name contains (Zulu)
        "a": 2,     # code contains (AB) beats name contains (Alpha, id 1)
        "ul": 2,    # name contains only
        "lph": 1,   # name contains only
        "ZULU": 2,  # name exact
        "ab": 2,    # code exact
    }


def test_scalar_relation_resolution(spark):
    df = spark.createDataFrame(
        [(1, "Acme", "India"), (2, "Belco", "usa"), (3, "Cori", "Atlantis")],
        "__row long, name string, country string",
    )
    out = R.resolve_relation(
        df, "country", COMPANY, _countries(spark), COUNTRY, REGISTRY
    )
    got = {r["name"]: r["country"] for r in out.collect()}
    # miss -> null (reference drops the key: csv-import.js:471)
    assert got == {"Acme": 1, "Belco": 4, "Cori": None}


def test_multi_relation_resolution(spark):
    df = spark.createDataFrame(
        [(1, "A", "India, China"), (2, "B", "India,nowhere"), (3, "C", "zzz"),
         (4, "D", "China, India, China"), (5, "E", "China,,nowhere"),
         (6, "F", None)],
        "__row long, name string, tags string",
    )
    out = R.resolve_relation(
        df, "tags", USERS, _countries(spark), COUNTRY, REGISTRY
    )
    got = {r["name"]: r["tags"] for r in out.collect()}
    assert len(got) == 6           # every row kept
    assert got["A"] == [1, 3]      # input order preserved
    assert got["B"] == [1]         # miss dropped
    assert got["C"] is None        # all missed -> field dropped
    assert got["D"] == [3, 1, 3]   # a repeated token resolves each time
    # an empty token is contained in every name ($containsi ''), so it
    # takes the lowest id
    assert got["E"] == [3, 1]
    assert got["F"] is None        # NULL cell


def test_dot_notation_precedence(spark):
    df = spark.createDataFrame(
        [(1, "Acme", "ignored", "CN")],
        "__row long, name string, country string, __dot__country__code string",
    )
    out = R.resolve_relation(
        df, "country", COMPANY, _countries(spark), COUNTRY, REGISTRY,
        search_field="code", dot_col="__dot__country__code",
    )
    assert out.collect()[0]["country"] == 3
