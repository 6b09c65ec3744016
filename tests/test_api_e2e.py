"""End-to-end workflow tests mirroring the reference's integration suite
(/root/reference/tests/integration/full-workflow.test.js): upload ->
validate -> import -> relations resolved -> upsert -> export round-trip.
"""

from __future__ import annotations

import glob

import pytest

from advanced_strapi_import_spark.api import Engine
from fixtures_ct import COUNTRIES, REGISTRY


@pytest.fixture()
def engine(spark, tmp_path):
    eng = Engine(spark=spark, registry=REGISTRY, storage_root=str(tmp_path / "store"))
    countries = spark.createDataFrame(COUNTRIES, "id long, name string, code string")
    eng.write_table("country", countries)
    return eng


def _csv(tmp_path, name, text):
    p = tmp_path / name
    p.write_text(text)
    return str(p)


def _bounded(fn, *args, seconds=120, **kw):
    """fn(*args, **kw), failing instead of hanging past ``seconds``: the
    import counters ride the write as an Observation, whose ``get``
    would wait forever if the write's plan never reported them."""
    import threading

    out = {}

    def run():
        try:
            out["value"] = fn(*args, **kw)
        except BaseException as e:  # re-raised on the test thread
            out["error"] = e

    th = threading.Thread(target=run, daemon=True)
    th.start()
    th.join(seconds)
    assert not th.is_alive(), f"{fn.__name__} blocked for over {seconds}s"
    if "error" in out:
        raise out["error"]
    return out["value"]


def _newest_job(spark) -> int:
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty(10_000)
    jobs = sc.statusStore().jobsList(None)
    return jobs.apply(0).jobId() if jobs.size() else -1


def _sql_actions(spark, fn, *args, **kw):
    """(fn's result, the executed physical plans of the SQL actions it
    ran): one plan per root SQL execution the status store gained
    during the call."""
    sc = spark.sparkContext._jsc.sc()
    store = spark._jsparkSession.sharedState().statusStore()

    def newest(k=64):
        sc.listenerBus().waitUntilEmpty(10_000)
        n = store.executionsCount()
        page = store.executionsList(max(0, n - k), k)
        return [page.apply(i) for i in range(page.size())]

    before = max((e.executionId() for e in newest(1)), default=-1)
    out = fn(*args, **kw)
    execs = [e for e in newest() if e.executionId() > before]
    return out, [e.physicalPlanDescription() for e in execs
                 if e.rootExecutionId() == e.executionId()]


def _shuffles_below_windows(plans: list[str]) -> tuple[int, int]:
    """(Window nodes, shuffles below any of them) in formatted plans'
    trees: a node's subtree is the lines after it indented deeper."""
    def depth(line):
        return len(line) - len(line.lstrip(" :+-"))

    windows = shuffles = 0
    for plan in plans:
        lines = plan.split("\n\n", 1)[0].splitlines()
        for i, line in enumerate(lines):
            if not line.lstrip(" :+-*").startswith("Window ("):
                continue
            windows += 1
            for sub in lines[i + 1:]:
                if depth(sub) <= depth(line):
                    break
                shuffles += "Exchange" in sub or "ShuffleQueryStage" in sub
    return windows, shuffles


def test_list_content_types(engine):
    names = {t["uid"] for t in engine.list_content_types()}
    assert "api::company.company" in names


def test_preview_and_validate(engine, tmp_path):
    p = _csv(tmp_path, "c.csv",
             "name,country,established,active\n"
             "Acme,India,2000,true\n"
             ",USA,bad,maybe\n")
    pv = engine.preview_csv(p, "company")
    assert pv["headers"] == ["name", "country", "established", "active"]
    assert pv["totalRows"] == 2

    rep = engine.validate_csv(p, "company")
    assert rep["validRows"] == 1 and rep["invalidRows"] == 1
    assert any("Required field" in e for e in rep["errors"])
    assert any("must be a number" in e for e in rep["errors"])


def test_import_resolves_relations(engine, tmp_path):
    # full-workflow.test.js:104-184: imported rows carry resolved FK ids
    p = _csv(tmp_path, "c.csv",
             "name,country,established,active\n"
             "Acme,India,2000,true\n"
             "Belco,usa,1990,no\n"
             "Cori,Atlantis,2010,1\n")
    out = engine.import_csv(p, "company")
    assert out["created"] == 3 and out["invalidRows"] == 0
    rows = {r["name"]: r for r in engine.table("company").collect()}
    assert rows["Acme"]["country"] == 1      # India
    assert rows["Belco"]["country"] == 4     # USA (case-insensitive)
    assert rows["Cori"]["country"] is None   # unresolved -> dropped
    assert rows["Belco"]["active"] is False


def test_import_dot_notation_search_field(engine, tmp_path):
    p = _csv(tmp_path, "c.csv",
             "name,country.code,established,active\n"
             "Acme,CN,2000,true\n")
    engine.import_csv(p, "company")
    rows = {r["name"]: r for r in engine.table("company").collect()}
    assert rows["Acme"]["country"] == 3      # resolved via code=CN


def test_upsert_workflow(engine, tmp_path):
    # full-workflow.test.js:186-245
    p1 = _csv(tmp_path, "a.csv",
              "name,country,established,active\nAcme,India,2000,true\n")
    engine.import_csv(p1, "company")
    # seed has no id column; upsert by name
    p2 = _csv(tmp_path, "b.csv",
              "name,country,established,active\n"
              "Acme,China,2001,false\n"
              "Newco,India,2020,yes\n")
    out = engine.import_csv(p2, "company", upsert=True, upsert_field="name")
    assert out["updated"] == 1 and out["created"] == 1
    rows = {r["name"]: r for r in engine.table("company").collect()}
    assert rows["Acme"]["established"] == 2001 and rows["Acme"]["country"] == 3
    assert rows["Newco"]["established"] == 2020


def test_verbs_run_only_their_own_actions(engine, spark, tmp_path):
    """Beyond the CSV scan's own header read, validate_csv runs two SQL
    actions: ONE aggregate for both row counts and the capped error
    list, and the preview. An import runs two: the invalid-row count
    and the table write; its created/updated counters ride the write,
    with no count or collect of their own. The batch is one partition
    from the scan onwards, so no plan shuffles below the row-number
    window."""
    from advanced_strapi_import_spark.sources.csv_source import csv_scan

    p1 = _csv(tmp_path, "a.csv",
              "name,country,established,active\n"
              "Acme,India,2000,true\nBelco,USA,1990,no\n,USA,bad,x\n")
    _, plans = _sql_actions(spark, csv_scan, spark, p1)
    scan = len(plans)
    rep, plans = _sql_actions(spark, engine.validate_csv, p1, "company")
    assert (rep["totalRows"], rep["validRows"], rep["invalidRows"]) == (3, 2, 1)
    assert len(plans) == scan + 2
    windows, shuffles = _shuffles_below_windows(plans)
    assert windows and not shuffles, plans
    out, plans = _sql_actions(spark, engine.import_csv, p1, "company")
    assert out == {"created": 2, "updated": 0, "invalidRows": 1}
    assert len(plans) == scan + 2
    windows, shuffles = _shuffles_below_windows(plans)
    assert windows and not shuffles, plans
    p2 = _csv(tmp_path, "b.csv",
              "name,country,established,active\n"
              "Acme,China,2001,false\nNewco,India,2020,yes\n")
    out, plans = _sql_actions(spark, engine.import_csv, p2, "company",
                              upsert=True, upsert_field="name")
    assert out == {"created": 1, "updated": 1, "invalidRows": 0}
    assert len(plans) == scan + 2


def test_batch_split_across_scan_partitions_keeps_file_order(engine, spark, tmp_path):
    """A CSV the scan splits into several partitions still numbers its
    rows by data line ("Row N" = the N-th line after the header), and an
    upsert whose duplicate key sits in two different splits keeps the
    later row."""
    from advanced_strapi_import_spark.sources.csv_source import csv_scan

    n = 600
    bad = set(range(5, n + 1, 37))
    lines = ["name,country,established,active"]
    for i in range(1, n + 1):
        name = "Dup" if i in (1, n) else f"co{i:04d}"
        year = f"bad{i}" if i in bad else str(1000 + i)
        lines.append(f"{name},India,{year},true")
    p = _csv(tmp_path, "split.csv", "\n".join(lines) + "\n")
    key = "spark.sql.files.maxPartitionBytes"
    prev = spark.conf.get(key)
    spark.conf.set(key, "2048")
    try:
        assert csv_scan(spark, p).rdd.getNumPartitions() > 4
        rep = engine.validate_csv(p, "company")
        assert rep["invalidRows"] == len(bad)
        assert rep["errors"] == [
            f'Row {i}: "established" must be a number' for i in sorted(bad)
        ]
        assert rep["preview"][0]["established"] == 1001
        engine.import_csv(_csv(tmp_path, "seed.csv",
                               "name,country,established,active\n"
                               "Dup,USA,1,false\n"), "company")
        out = engine.import_csv(p, "company", upsert=True, upsert_field="name")
        assert out == {"created": n - 2 - len(bad), "updated": 1,
                       "invalidRows": len(bad)}
        dup = engine.table("company").filter("name = 'Dup'").collect()
        assert [r["established"] for r in dup] == [1000 + n]
    finally:
        spark.conf.set(key, prev)


def test_table_reads_recorded_schema_without_inference(engine, spark, tmp_path):
    """Engine.table() reads a table write_table wrote with the schema
    recorded at write time: no schema-inference job, and exactly the
    schema Spark would infer from the files (parquet makes every field,
    array element and map value nullable)."""
    from pyspark.sql import functions as F

    office = _csv(tmp_path, "o.csv",
                  "id,name,location.street,location.city\n1,HQ,1 Main St,Pune\n")
    engine.import_csv(office, "office")
    engine.import_csv(office, "office", upsert=True, upsert_field="id")
    engine.import_csv(_csv(tmp_path, "c.csv",
                           "name,country,established,active\nAcme,India,2000,true\n"),
                      "company")
    engine.write_table("nested", spark.range(3).select(
        "id",  # non-nullable
        F.struct(F.col("id").alias("a"), F.lit("x").alias("b")).alias("s"),
        F.array("id").alias("arr"),
        F.create_map(F.lit("k"), F.col("id")).alias("m"),
        F.array(F.struct(F.col("id").cast("double").alias("x"))).alias("arrs"),
    ))
    engine.write_table("empty", spark.range(0))
    for ct in ("country", "company", "office", "nested", "empty"):
        j0 = _newest_job(spark)
        got = engine.table(ct).schema
        assert _newest_job(spark) == j0, f"{ct}: table() ran a job"
        assert got == spark.read.parquet(engine._path(ct)).schema, ct


def test_table_schema_memo_sees_outside_writes(engine, spark):
    """A plain parquet overwrite from outside the engine changes the
    table directory, so the next table() re-infers and sees it."""
    from pyspark.sql import functions as F

    assert "extra" not in engine.table("country").columns
    spark.createDataFrame(COUNTRIES, "id long, name string, code string").withColumn(
        "extra", F.lit(1)
    ).write.mode("overwrite").parquet(engine._path("country"))
    df = engine.table("country")
    assert "extra" in df.columns
    assert {r["extra"] for r in df.collect()} == {1}


def test_table_schema_memo_one_entry_per_path(engine, spark):
    for i in range(20):
        engine.write_table(f"t{i % 2}", spark.range(i + 1))
        assert engine.table(f"t{i % 2}").count() == i + 1
    assert sorted(engine._schemas) == sorted(
        engine._path(ct) for ct in ("country", "t0", "t1")
    )


def test_export_round_trip(engine, spark, tmp_path):
    # full-workflow.test.js:248-288 golden: relation flattened to
    # country.name, metadata dropped
    p = _csv(tmp_path, "c.csv",
             "name,country,established,active\n"
             "Test Company,India,2020,true\n"
             "Another Company,USA,2015,false\n")
    engine.import_csv(p, "company")
    out_dir = str(tmp_path / "export")
    df = engine.export_csv("company", out_dir, order_by="name")
    assert "country.name" in df.columns

    back = spark.read.option("header", True).csv(out_dir)
    got = {r["name"]: r for r in back.collect()}
    assert got["Test Company"]["country.name"] == "India"
    assert got["Test Company"]["established"] == "2020"
    assert got["Another Company"]["country.name"] == "USA"
    assert got["Another Company"]["active"] == "false"

    # single-pass export stats: the observation rides the write job,
    # and must agree with what actually landed in the file
    stats: dict = {}
    engine.export_csv("company", str(tmp_path / "export2"), stats_out=stats)
    n_file = spark.read.option("header", True).csv(
        str(tmp_path / "export2")
    ).count()
    assert stats == {"n_rows": n_file} and n_file == 2


def _csv_lines(out_dir) -> list[str]:
    """The lines of a CSV directory's part files, in part-file order."""
    lines = []
    for part in sorted(glob.glob(f"{out_dir}/part-*.csv")):
        with open(part) as f:
            lines += f.read().splitlines()
    return lines


def test_export_header_and_rows_are_pinned(spark, tmp_path):
    """The exact CSV export_csv writes for a content type with a scalar
    relation, a multi relation, a single component and a media field:
    header order and every cell. Flattened columns land in attribute
    order after the stored columns they replace; metadata drops."""
    from advanced_strapi_import_spark.schema import Registry

    registry = Registry.from_dict({
        "contentTypes": {
            "country": {
                "uid": "api::country.country",
                "attributes": {
                    "id": {"type": "integer"},
                    "name": {"type": "string", "required": True},
                    "code": {"type": "string", "unique": True},
                },
            },
            "product": {
                "uid": "api::product.product",
                "attributes": {
                    "id": {"type": "integer"},
                    "name": {"type": "string", "required": True},
                    "maker": {"type": "relation", "relation": "manyToOne",
                              "target": "country"},
                    "markets": {"type": "relation", "relation": "manyToMany",
                                "target": "country"},
                    "spec": {"type": "component", "component": "address"},
                    "photos": {"type": "media"},
                },
            },
        },
        "components": {
            "address": {
                "uid": "test.address",
                "attributes": {"street": {"type": "string"},
                               "city": {"type": "string"}},
            },
        },
    })
    eng = Engine(spark=spark, registry=registry, storage_root=str(tmp_path / "s"))
    eng.write_table("country", spark.createDataFrame(
        COUNTRIES, "id long, name string, code string"))
    eng.write_table("product", spark.createDataFrame(
        [
            (3, "Gamma", 2, [4, 1, 4], ("3 Elm", "Pune"), [30, 31], "2020-01-01"),
            (1, "Alpha", 1, [3], ("1 Main, Apt 2", "Austin"), [10], "2020-01-02"),
            (2, "Beta", None, None, None, [], "2020-01-03"),
            (4, "Delta", 9, [], ("4 Oak", None), None, "2020-01-04"),
        ],
        "id long, name string, maker long, markets array<long>, "
        "spec struct<street:string,city:string>, photos array<long>, "
        "createdAt string",
    ))
    out = str(tmp_path / "export")
    df = eng.export_csv("product", out, order_by="id")
    header = "id,name,photos,maker.name,markets.name,spec.street,spec.city"
    assert df.columns == header.split(",")
    assert _csv_lines(out) == [
        header,
        '1,Alpha,10,India,China,"1 Main, Apt 2",Austin',
        "2,Beta,,,,,",
        '3,Gamma,"30, 31",United States,"USA, India, USA",3 Elm,Pune',
        "4,Delta,,,,4 Oak,",
    ]


def test_export_limit_far_above_row_count_writes_every_row(engine, spark, tmp_path):
    """export_csv(limit=10**9, order_by=...) on a small table writes every
    row in key order. An ORDER BY + LIMIT that plans as
    TakeOrderedAndProject sizes its top-K buffer by the limit, which
    runs the driver out of heap, so the plan is checked before the
    export runs."""
    ids = list(range(1, 51))
    ids = ids[1::2] + ids[::2]  # stored out of key order
    engine.write_table("country", spark.createDataFrame(
        [(i, f"c{i:02d}", f"C{i}") for i in ids], "id long, name string, code string"
    ).repartition(4))
    plan = engine.table("country").orderBy("id").limit(10**9)._jdf \
        .queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" not in plan, plan
    out = str(tmp_path / "export")
    stats: dict = {}
    engine.export_csv("country", out, limit=10**9, order_by="id", stats_out=stats)
    assert stats == {"n_rows": 50}
    assert _csv_lines(out) == ["id,name,code"] + [
        f"{i},c{i:02d},C{i}" for i in range(1, 51)
    ]


def test_import_strict_aborts_on_invalid(engine, tmp_path):
    # early-exit validation (controllers/csv-import.js:241-252)
    p = _csv(tmp_path, "c.csv",
             "name,country,established,active\n"
             "Acme,India,bad,true\n")
    out = engine.import_csv(p, "company", strict=True)
    assert out["created"] == 0
    assert any("must be a number" in e for e in out["errors"])
    assert not engine.has_table("company")


def test_import_strict_abort_unpersists(engine, tmp_path, spark):
    # the early strict-abort return must not leak the persisted
    # scan+validate frame (previously only the happy path unpersisted)
    spark.catalog.clearCache()
    p = _csv(tmp_path, "c.csv",
             "name,country,established,active\n"
             "Acme,India,bad,true\n")
    engine.import_csv(p, "company", strict=True)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_import_batch_size_caps_rows_per_file(engine, tmp_path):
    import os

    rows = "".join(f"Co{i},India,2000,true\n" for i in range(30))
    p = _csv(tmp_path, "many.csv", "name,country,established,active\n" + rows)
    res = engine.import_csv(p, "company", batch_size=10)
    assert res["created"] == 30
    parts = glob.glob(os.path.join(engine.storage_root, "company", "part-*"))
    # reference batchSize analog: no output file exceeds batch_size rows
    assert len(parts) >= 3


def test_file_constraints_extension_and_size(engine, tmp_path):
    # reference File Limits (README.md: max 10MB, CSV only; UI check
    # PluginPage.js:73-82)
    import pytest

    from advanced_strapi_import_spark import api as A

    bad_ext = tmp_path / "data.txt"
    bad_ext.write_text("name\nAcme\n")
    with pytest.raises(ValueError, match="valid CSV file"):
        engine.preview_csv(str(bad_ext), "company")
    with pytest.raises(ValueError, match="valid CSV file"):
        engine.validate_csv(str(bad_ext), "company")
    with pytest.raises(ValueError, match="valid CSV file"):
        engine.import_csv(str(bad_ext), "company")

    big = tmp_path / "big.csv"
    with open(big, "wb") as f:
        f.write(b"name\n")
        f.seek(A.MAX_CSV_BYTES + 1)
        f.write(b"x")
    with pytest.raises(ValueError, match="10MB"):
        engine.validate_csv(str(big), "company")


def test_upsert_duplicate_keys_last_write_wins(engine, tmp_path):
    # The reference's sequential update-or-create leaves exactly one
    # record per key, last CSV row winning (csv-import.js:362-428); the
    # merge must not fan out on duplicate batch keys or inflate counters.
    p1 = _csv(tmp_path, "a.csv",
              "name,country,established,active\nAcme,India,2000,true\n")
    engine.import_csv(p1, "company")
    p2 = _csv(tmp_path, "b.csv",
              "name,country,established,active\n"
              "Acme,China,2001,false\n"
              "Acme,USA,2002,true\n"
              "Newco,India,2020,yes\n")
    out = _bounded(engine.import_csv, p2, "company", upsert=True, upsert_field="name")
    assert out == {"created": 1, "updated": 1, "invalidRows": 0}
    rows = engine.table("company").collect()
    acmes = [r for r in rows if r["name"] == "Acme"]
    assert len(acmes) == 1
    # last CSV row wins
    assert acmes[0]["established"] == 2002 and acmes[0]["country"] == 4

    # an upsert into a table that does not exist yet dedupes the same
    # way: one stored row per key, every key created
    fresh = Engine(spark=engine.spark, registry=REGISTRY,
                   storage_root=str(tmp_path / "fresh"))
    out = _bounded(fresh.import_csv, p2, "company", upsert=True, upsert_field="name")
    assert out == {"created": 2, "updated": 0, "invalidRows": 0}
    rows = {r["name"]: r for r in fresh.table("company").collect()}
    assert len(rows) == 2 and rows["Acme"]["established"] == 2002


def test_upsert_null_keys(engine, tmp_path):
    """NULL upsert keys match nothing: a stored row with a NULL key
    passes through unchanged, and the batch's NULL-key rows collapse to
    one created row (last write wins), like any duplicate key."""
    p1 = _csv(tmp_path, "a.csv",
              "id,name,established\n1,Acme,2000\n,Orphan,1999\n")
    assert _bounded(engine.import_csv, p1, "company") == {
        "created": 2, "updated": 0, "invalidRows": 0}
    p2 = _csv(tmp_path, "b.csv",
              "id,name,established\n"
              "1,Acme2,2001\n"
              ",NullA,2010\n"
              ",NullB,2011\n"
              "7,Seven,2020\n"
              "8,Bad,notanumber\n")
    out = _bounded(engine.import_csv, p2, "company", upsert=True, upsert_field="id")
    assert out == {"created": 2, "updated": 1, "invalidRows": 1}
    rows = sorted((r["id"] or 0, r["name"], r["established"])
                  for r in engine.table("company").collect())
    assert rows == [(0, "NullB", 2011), (0, "Orphan", 1999),
                    (1, "Acme2", 2001), (7, "Seven", 2020)]


def test_import_degenerate_inputs_counters(engine, tmp_path):
    """Header-only and all-invalid CSVs, into new and existing tables:
    the write-borne counters come back (never a hang on the observation)
    and are exact."""
    header = "name,country,established,active\n"
    empty = _csv(tmp_path, "empty.csv", header)
    bad = _csv(tmp_path, "bad.csv", header + ",India,x,true\nAcme,India,y,true\n")
    zero = {"created": 0, "updated": 0, "invalidRows": 0}
    two_bad = {"created": 0, "updated": 0, "invalidRows": 2}
    # new tables: insert and upsert
    fresh = Engine(spark=engine.spark, registry=REGISTRY,
                   storage_root=str(tmp_path / "fresh"))
    assert _bounded(fresh.import_csv, empty, "company",
                    upsert=True, upsert_field="name") == zero
    assert _bounded(engine.import_csv, empty, "company") == zero
    assert _bounded(engine.import_csv, bad, "company") == two_bad
    assert engine.table("company").count() == 0
    # existing tables
    good = _csv(tmp_path, "good.csv", header + "Acme,India,2000,true\n")
    assert _bounded(engine.import_csv, good, "company")["created"] == 1
    for path, want in ((empty, zero), (bad, two_bad)):
        assert _bounded(engine.import_csv, path, "company") == want
        assert _bounded(engine.import_csv, path, "company",
                        upsert=True, upsert_field="name") == want
    assert [r["name"] for r in engine.table("company").collect()] == ["Acme"]


def test_upsert_into_empty_target_counts_zero_updated(spark, tmp_path):
    from pyspark.sql import Observation

    from advanced_strapi_import_spark.operators import upsert as U

    target = spark.createDataFrame([], "id long, name string")
    batch = spark.createDataFrame([(1, "a")], "id long, name string")
    res = U.merge(target, batch, "id")
    row = res.counters.collect()[0]
    assert row["created"] == 1 and row["updated"] == 0

    # the same counters ride whatever action writes the merged rows
    obs = Observation()
    merged = res.observed(obs)
    assert merged.columns == ["id", "name"]
    assert merged.collect() == [(1, "a")]
    assert _bounded(lambda: obs.get) == {"created": 1, "updated": 0}

    # empty batch: nothing counted; a NULL-key target row is untouched
    target = spark.createDataFrame([(None, "x"), (2, "y")], "id long, name string")
    res = U.merge(target, batch.limit(0), "id")
    obs = Observation()
    res.observed(obs).write.format("noop").mode("overwrite").save()
    assert _bounded(lambda: obs.get) == {"created": 0, "updated": 0}
    assert set(map(tuple, res.merged.collect())) == {(None, "x"), (2, "y")}


def test_merge_into_sql_rendering():
    from advanced_strapi_import_spark.operators.upsert import merge_into_sql

    sql = merge_into_sql("cat.db.t", "src", "id", ["id", "name", "qty"])
    assert sql == (
        "MERGE INTO cat.db.t t USING src s ON t.id = s.id "
        "WHEN MATCHED THEN UPDATE SET t.name = s.name, t.qty = s.qty "
        "WHEN NOT MATCHED THEN INSERT (id, name, qty) VALUES (s.id, s.name, s.qty)"
    )
    # key-only schema: no UPDATE clause (nothing to set)
    assert "WHEN MATCHED" not in merge_into_sql("t", "s", "id", ["id"])


def test_merge_catalog_table_requires_row_level_format(spark, tmp_path):
    # Without Delta/Iceberg in the container the session catalog only has
    # v1 tables, which cannot MERGE; the sink must surface the engine
    # error (the caller then falls back to the full-outer-join merge()).
    # With a row-level-capable catalog configured this same call is the
    # atomic path — the statement itself is format-agnostic.
    import pytest
    from pyspark.errors import AnalysisException, UnsupportedOperationException

    from advanced_strapi_import_spark.operators.upsert import merge_catalog_table

    spark.sql("DROP TABLE IF EXISTS __merge_t")
    spark.sql(f"CREATE TABLE __merge_t (id BIGINT, name STRING) USING parquet "
              f"LOCATION '{tmp_path}/mt'")
    try:
        batch = spark.createDataFrame([(1, "a")], "id long, name string")
        with pytest.raises((AnalysisException, UnsupportedOperationException)):
            merge_catalog_table(spark, "__merge_t", batch, "id")
        assert spark.catalog.listTables()  # view cleaned up, table intact
        assert not any(t.name.startswith("__merge_src") for t in spark.catalog.listTables())
    finally:
        spark.sql("DROP TABLE IF EXISTS __merge_t")


def test_compact_table_rewrites_small_files(engine, tmp_path):
    # batched import (batch_size -> maxRecordsPerFile) accretes many
    # small files; compaction rewrites to the size-derived count and
    # preserves content exactly.
    rows = "\n".join(f"c{i},India,20{i%10:02d},true" for i in range(200))
    p = _csv(tmp_path, "many.csv", "name,country,established,active\n" + rows + "\n")
    engine.import_csv(p, "company", batch_size=10)
    import os

    path = engine._path("company")
    files_before = [f for _, _, fs in os.walk(path) for f in fs if f.endswith(".parquet")]
    assert len(files_before) >= 20
    before = sorted(r["name"] for r in engine.table("company").collect())
    n = engine.compact_table("company")
    files_after = [f for _, _, fs in os.walk(path) for f in fs if f.endswith(".parquet")]
    assert len(files_after) == n == 1  # tiny table -> one right-sized file
    assert sorted(r["name"] for r in engine.table("company").collect()) == before


def test_table_format_roundtrip_orc_json(spark, tmp_path):
    """ORC and JSONL storage round-trips preserve every row exactly
    (format-generic Engine.table/write_table)."""
    eng = Engine(spark=spark, registry=REGISTRY,
                 storage_root=str(tmp_path / "fmt_store"))
    src = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    want = sorted(tuple(str(x) for x in r) for r in src.collect())
    for fmt in ("orc", "json"):
        eng.write_table(f"docs_{fmt}", src, fmt=fmt)
        back = eng.table(f"docs_{fmt}", fmt=fmt).select(*src.columns)
        got = sorted(tuple(str(x) for x in r) for r in back.collect())
        assert got == want, fmt
        # overwrite path (atomic swap) works for non-parquet too
        eng.write_table(f"docs_{fmt}", src.limit(10), fmt=fmt)
        assert eng.table(f"docs_{fmt}", fmt=fmt).count() == 10


def test_engine_sql_surface(engine, spark):
    """Engine.sql: stored content types become queryable views."""
    out = engine.sql(
        "SELECT count(*) AS n, count(DISTINCT id) AS ids FROM country"
    ).collect()
    assert out[0].n >= 1 and out[0].ids == out[0].n
    companies = spark.createDataFrame(
        [(1, "Acme", 1), (2, "Globex", 1), (3, "Initech", 2)],
        "id long, name string, country long",
    )
    engine.write_table("company", companies)
    rows = engine.sql(
        """SELECT c.name AS country, count(*) AS n
           FROM company co JOIN country c ON c.id = co.country
           GROUP BY c.name ORDER BY n DESC, country"""
    ).collect()
    assert rows[0].n == 2


def test_engine_sql_named_parameters(engine):
    """Engine.sql(args=...): values bind as typed literals through
    Spark's parameterized SQL — a malicious filter value stays a
    string, it cannot alter the query structure."""
    rows = engine.sql(
        "SELECT id, name FROM country WHERE name = :name",
        args={"name": "Portugal"},
    ).collect()
    assert [r.name for r in rows] in ([], ["Portugal"])
    # an injection-shaped value matches nothing instead of mutating
    # the predicate
    evil = engine.sql(
        "SELECT count(*) AS n FROM country WHERE name = :name",
        args={"name": "x' OR '1'='1"},
    ).collect()
    assert evil[0].n == 0


def test_import_builds_single_component(engine, tmp_path):
    """Dot-notation component columns must materialize as a struct on
    the stored row — not be silently dropped (the docstring's
    'components' pipeline stage)."""
    csv = tmp_path / "offices.csv"
    csv.write_text(
        "id,name,location.street,location.city\n"
        "1,HQ,1 Main St,Pune\n"
        "2,Lab,2 Side Ave,Austin\n"
    )
    out = engine.import_csv(str(csv), "office")
    assert out["created"] == 2
    rows = {r["name"]: r for r in engine.table("office").collect()}
    assert rows["HQ"]["location"]["street"] == "1 Main St"
    assert rows["HQ"]["location"]["city"] == "Pune"
    assert rows["Lab"]["location"]["city"] == "Austin"


def test_export_multi_relation_rows_sharing_order_by_value(engine, tmp_path):
    """Two rows sharing the order_by value must keep their OWN relation
    lists — grouping by a non-unique sort column merged them."""
    users = tmp_path / "u.csv"
    users.write_text(
        "name,email,tags\nsame,a@x.com,India\nsame,b@x.com,USA\n"
    )
    engine.import_csv(str(users), "users")
    out = tmp_path / "exp"
    df = engine.export_csv("users", str(out), order_by="name")
    got = {r["email"]: r["tags.name"] for r in df.collect()}
    assert got["a@x.com"] == "India"
    assert got["b@x.com"] == "USA"


def test_validate_absent_column_gets_default(spark):
    """A defaulted field missing from the CSV entirely must still
    materialize its default, same as a present-but-empty cell."""
    from advanced_strapi_import_spark.operators.validate import validate_df

    ct = REGISTRY.get("company")
    df = spark.createDataFrame(
        [("Acme", "2001")], "name string, established string"
    )
    res = validate_df(df, ct, REGISTRY)
    row = res.valid.collect()[0]
    assert row["active"] is True  # schema default, column absent from CSV


def test_validate_mostly_invalid_csv_bounded_driver_collect(engine, tmp_path):
    """VERDICT r10 item 2: a batch that is almost entirely invalid must
    NOT drive an unbounded error collect() to the driver — the report
    ships at most error_cap invalid rows' error strings while keeping
    the exact full counts, and flags the truncation."""
    n = 300_000
    p = tmp_path / "mostly_bad.csv"
    with open(p, "w") as f:
        f.write("name,country,established,active\n")
        f.write("Acme,India,2000,true\n")  # one valid row
        for i in range(n):
            # missing required name AND non-numeric established: 2
            # error strings per row, n rows — ~all of the file invalid
            f.write(",India,bad%d,true\n" % i)

    rep = engine.validate_csv(str(p), "company", error_cap=50)
    assert rep["totalRows"] == n + 1
    assert rep["validRows"] == 1
    assert rep["invalidRows"] == n          # exact count, not capped
    assert rep["errorsTruncated"] is True
    # <= cap rows x errors-per-row, nowhere near the 600k full list
    assert 0 < len(rep["errors"]) <= 50 * 4

    out = engine.import_csv(str(p), "company", strict=True, error_cap=50)
    assert out["created"] == 0 and out["errorsTruncated"] is True
    assert 0 < len(out["errors"]) <= 50 * 4

    # uncapped small-file behavior unchanged: every error present
    small = _csv(tmp_path, "small_bad.csv",
                 "name,country,established,active\n"
                 ",India,bad,true\n,India,bad2,true\n")
    rep2 = engine.validate_csv(small, "company")
    assert rep2["invalidRows"] == 2 and rep2["errorsTruncated"] is False
    assert len(rep2["errors"]) == 4
