"""E2E: media ZIP -> routed files -> CSV import with media ids attached
by the 3-pattern filename match (FIXTURES.md §6, reference flow
upload-media-zip -> import with mediaFieldMappings)."""

from __future__ import annotations

import zipfile

import pytest

from advanced_strapi_import_spark.api import Engine
from advanced_strapi_import_spark.schema import Registry

CHALLAN_REGISTRY = Registry.from_dict(
    {
        "contentTypes": {
            "challan": {
                "uid": "api::challan.challan",
                "attributes": {
                    "challan_no": {"type": "string", "required": True},
                    "description": {"type": "string"},
                    "reports": {"type": "media"},
                    "challan_docs": {"type": "media"},
                },
            },
        },
        "components": {},
    }
)


@pytest.fixture()
def engine(spark, tmp_path):
    return Engine(spark=spark, registry=CHALLAN_REGISTRY,
                  storage_root=str(tmp_path / "store"))


def _write_zip(path, entries: dict[str, bytes]) -> str:
    with zipfile.ZipFile(path, "w") as zf:
        for name, data in entries.items():
            zf.writestr(name, data)
    return str(path)


# foldered entries (reports/, challan_docs/); ids follow entry-path order
MEDIA_ENTRIES = {
    "reports/CH001.pdf": b"r1",
    "reports/CH001_02.pdf": b"r2",
    "reports/CH002_report.pdf": b"r3",
    "challan_docs/CH001_delivery.pdf": b"c1",
}


def _write_challans(tmp_path) -> str:
    p = tmp_path / "challans.csv"
    p.write_text(
        "challan_no,description\nCH001,Coal sample\nCH002,Iron sample\nCH999,No media\n"
    )
    return str(p)


def _plan_nodes(plan) -> list[str]:
    """One line per node of a logical plan; a cached subtree is a single
    InMemoryRelation leaf, its own plan not among the children."""
    out, stack = [], [plan]
    while stack:
        node = stack.pop()
        out.append(node.simpleString(100))
        kids = node.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))
    return out


def _reads_archive(df) -> bool:
    nodes = _plan_nodes(df._jdf.queryExecution().optimizedPlan())
    return any("MapInPandas" in n or "binaryFile" in n for n in nodes)


def test_media_zip_import_flow(engine, tmp_path):
    # 1. media zip with foldered entries (reports/, challan_docs/)
    zp = _write_zip(tmp_path / "media.zip", MEDIA_ENTRIES)
    routed = engine.ingest_media_zip(zp, "challan", "challan_no")
    assert {r["field"] for r in routed.collect()} == {"reports", "challan_docs"}

    # 2. CSV import matched by challan_no
    out = engine.import_csv(
        _write_challans(tmp_path), "challan", media_match_field="challan_no"
    )
    assert out["created"] == 3

    rows = {r["challan_no"]: r for r in engine.table("challan").collect()}
    # file ids are the entry-path order: challan_docs/CH001_delivery 1,
    # reports/CH001 2, reports/CH001_02 3, reports/CH002_report 4
    # CH001: exact + numbered in reports (sorted by lowercase name), one challan_doc
    assert rows["CH001"]["reports"] == [2, 3]
    assert rows["CH001"]["challan_docs"] == [1]
    # CH002: startswith match
    assert rows["CH002"]["reports"] == [4]
    # CH999: no files -> null (reference leaves field unset)
    assert rows["CH999"]["reports"] is None


def test_import_reads_the_ingested_file_table(engine, tmp_path, monkeypatch):
    from advanced_strapi_import_spark.sources import zip_source as Z

    zp = _write_zip(tmp_path / "media.zip", MEDIA_ENTRIES)
    # the probe sees the archive read in an uncached file table
    assert _reads_archive(Z.media_files(engine.spark, zp))
    engine.ingest_media_zip(zp, "challan", "challan_no")

    written = []
    write = engine.write_table

    def capture(ct_name, df, **kw):
        written.append(df)
        return write(ct_name, df, **kw)

    monkeypatch.setattr(engine, "write_table", capture)
    engine.import_csv(
        _write_challans(tmp_path), "challan", media_match_field="challan_no"
    )
    assert len(written) == 1
    # no unzip, no binaryFile scan: the import reads the cached rows
    assert not _reads_archive(written[0])


def test_reingest_keeps_one_cached_file_table(engine, spark, tmp_path):
    def cached() -> int:
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    zp = _write_zip(tmp_path / "media.zip", MEDIA_ENTRIES)
    engine.ingest_media_zip(zp, "challan", "challan_no")
    after_first = cached()
    for _ in range(20):
        engine.ingest_media_zip(zp, "challan", "challan_no")
    assert cached() == after_first

    # an archive rewritten in place is read as it is now, not as cached
    _write_zip(tmp_path / "media.zip", {"reports/CH999.pdf": b"y"})
    routed = engine.ingest_media_zip(zp, "challan", "challan_no")
    assert [r["name"] for r in routed.collect()] == ["CH999.pdf"]
    assert cached() == after_first

    # another archive routing to every field replaces the table
    other = _write_zip(
        tmp_path / "other.zip",
        {"reports/CH002.pdf": b"x", "challan_docs/CH002_x.pdf": b"z"},
    )
    engine.ingest_media_zip(other, "challan", "challan_no")
    assert cached() == after_first

    # the flat-zip verb keeps one table per live ingest too; challan_docs
    # still reads the other archive's table
    for _ in range(3):
        engine.ingest_zip(zp, "reports")
    assert cached() == after_first + 1
    out = engine.import_csv(
        _write_challans(tmp_path), "challan", media_match_field="challan_no"
    )
    assert out["created"] == 3
    rows = {r["challan_no"]: r for r in engine.table("challan").collect()}
    assert rows["CH999"]["reports"] == [1]
    assert rows["CH002"]["reports"] is None
    assert len(rows["CH002"]["challan_docs"]) == 1
