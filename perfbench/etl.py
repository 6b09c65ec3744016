"""``etl_roundtrip`` workload: the engine's import/export verbs.

Each cycle runs four ``api.Engine`` verbs on one generated CSV file:
``validate_csv``, ``import_csv`` (insert), ``import_csv(upsert=True)`` on
the unique ``key`` field, and ``export_csv`` of the whole stored table
ordered by the key. Every verb's result is checked against counts the
generator knows in advance.
"""

from __future__ import annotations

import os
import shutil
import zipfile

import numpy as np

KEY_SPACE = 200_000
N_BRANDS = 250
N_TAGS = 1_000
N_MEDIA_FILES = 3_000
INVALID_SHARE = 0.02
MISS_SHARE = 0.02
MAX_CSV_BYTES = 10 * 1024 * 1024
# rows of every insert file; the upsert file has half as many, half of
# them keys the cycle's insert has just stored
INSERT_ROWS = 2_000
STATUSES = ("draft", "active", "paused", "retired")
COLORS = ("red", "green", "blue", "black", "white", "silver")
WORDS = ("alpha", "bravo", "delta", "echo", "kilo", "lima", "nova",
         "orbit", "pixel", "quartz", "radio", "sierra", "tango", "ultra")

REGISTRY_DICT = {
    "contentTypes": {
        "brand": {
            "uid": "api::brand.brand",
            "attributes": {
                "id": {"type": "integer"},
                "name": {"type": "string", "required": True},
                "code": {"type": "string", "unique": True},
            },
        },
        "tag": {
            "uid": "api::tag.tag",
            "attributes": {
                "id": {"type": "integer"},
                "name": {"type": "string", "required": True},
            },
        },
        "item": {
            "uid": "api::item.item",
            "attributes": {
                "key": {"type": "string", "required": True, "unique": True},
                "name": {"type": "string"},
                "email": {"type": "email"},
                "price": {"type": "float"},
                "qty": {"type": "integer"},
                "active": {"type": "boolean"},
                "released": {"type": "date"},
                "status": {"type": "enumeration", "enum": list(STATUSES)},
                "brand": {"type": "relation", "relation": "manyToOne",
                          "target": "brand"},
                "tags": {"type": "relation", "relation": "manyToMany",
                         "target": "tag"},
                "spec": {"type": "component", "component": "spec"},
                # a reference media field, so the zip router files folder
                # "reports/" under it
                "reports": {"type": "media"},
            },
        },
    },
    "components": {
        "spec": {
            "uid": "item.spec",
            "attributes": {
                "color": {"type": "string"},
                "size": {"type": "integer"},
                "material": {"type": "string"},
            },
        },
    },
}


def key_str(k: int) -> str:
    return f"K{k:06d}"


def brand_rows() -> list[tuple[int, str, str]]:
    return [(i, f"Brand {WORDS[i % len(WORDS)].title()} {i:03d}", f"BR{i:03d}")
            for i in range(1, N_BRANDS + 1)]


def tag_rows() -> list[tuple[int, str]]:
    return [(i, f"tag-{WORDS[i % len(WORDS)]}-{i:04d}")
            for i in range(1, N_TAGS + 1)]


def write_media_zip(path: str, rng: np.random.Generator) -> None:
    """~3,000 tiny files under ``reports/`` named after keys of the key
    space: ``<key>.pdf`` and some ``<key>_2.pdf`` (exact + numbered
    matches of the engine's filename matcher)."""
    keys = rng.choice(KEY_SPACE, size=N_MEDIA_FILES * 3 // 4, replace=False)
    with zipfile.ZipFile(path, "w", zipfile.ZIP_STORED) as zf:
        n = 0
        for k in keys:
            zf.writestr(f"reports/{key_str(int(k)).lower()}.pdf", b"%PDF-r1")
            n += 1
            if n < N_MEDIA_FILES and k % 3 == 0:
                zf.writestr(f"reports/{key_str(int(k)).lower()}_2.pdf", b"%PDF-r2")
                n += 1
        zf.writestr("__MACOSX/reports/._junk.pdf", b"")


class KeyBook:
    """The stored table's key set, as the generator expects it."""

    def __init__(self) -> None:
        self.stored = np.zeros(KEY_SPACE, dtype=bool)

    @property
    def n_stored(self) -> int:
        return int(self.stored.sum())

    def fresh(self, rng, n: int, taken=()) -> np.ndarray:
        """``n`` keys neither stored nor in ``taken``."""
        free = np.setdiff1d(np.flatnonzero(~self.stored), taken)
        return rng.choice(free, size=n, replace=False)


def _csv_field(values: np.ndarray) -> np.ndarray:
    """Quote values that hold a comma."""
    out = values.astype(object)
    has = np.char.find(values.astype(str), ",") >= 0
    out[has] = np.char.add(np.char.add('"', values[has].astype(str)), '"')
    return out


def write_csv(path: str, rng: np.random.Generator, keys: np.ndarray, *,
              by_code: bool) -> tuple[int, np.ndarray]:
    """One import file for ``keys``; returns (invalid_count, valid_mask).
    With ``by_code`` the brand arrives as a ``brand.code`` column, else as
    a ``brand`` column holding names, lowercased names and ids."""
    n = keys.size
    brands = brand_rows()
    tags = tag_rows()
    bi = rng.integers(0, N_BRANDS, size=n)
    if by_code:
        bval = np.array([brands[i][2] for i in bi], dtype=object)
    else:
        form = rng.integers(0, 3, size=n)
        bval = np.array([
            brands[i][1] if f == 0 else brands[i][1].lower() if f == 1
            else str(brands[i][0]) for i, f in zip(bi, form)
        ], dtype=object)
    bval[rng.random(n) < MISS_SHARE] = "No Such Brand"
    ntag = rng.integers(0, 4, size=n)
    tag_ix = rng.integers(0, N_TAGS, size=(n, 3))
    tval = np.array([",".join(tags[j][1] for j in tag_ix[r, :c])
                     for r, c in enumerate(ntag)], dtype=object)
    cols = {
        "key": np.array([key_str(int(k)) for k in keys], dtype=object),
        "name": np.array([f"{WORDS[a]} {WORDS[b]}" for a, b in
                          rng.integers(0, len(WORDS), size=(n, 2))], dtype=object),
        "email": np.array([f"user{int(k)}@example.com" for k in keys], dtype=object),
        "price": np.round(rng.uniform(1, 1000, size=n), 2).astype(str).astype(object),
        "qty": rng.integers(0, 500, size=n).astype(str).astype(object),
        "active": rng.choice(np.array(["true", "false", "yes", "no", "1", "0"],
                                      dtype=object), size=n),
        "released": np.array([f"20{y:02d}-{m:02d}-{d:02d}" for y, m, d in zip(
            rng.integers(10, 25, size=n), rng.integers(1, 13, size=n),
            rng.integers(1, 29, size=n))], dtype=object),
        "status": rng.choice(np.array(STATUSES, dtype=object), size=n),
        ("brand.code" if by_code else "brand"): bval,
        "tags": tval,
        "spec.color": rng.choice(np.array(COLORS, dtype=object), size=n),
        "spec.size": rng.integers(1, 60, size=n).astype(str).astype(object),
        "spec.material": rng.choice(np.array(WORDS, dtype=object), size=n),
    }
    bad = rng.random(n) < INVALID_SHARE
    which = rng.integers(0, 5, size=n)
    for j, (col, val) in enumerate((("qty", "not-a-number"), ("active", "maybe"),
                                    ("email", "invalid-email"),
                                    ("status", "bogus"), ("price", "abc"))):
        cols[col][bad & (which == j)] = val
    names = list(cols)
    body = np.column_stack([_csv_field(np.asarray(cols[c])) for c in names])
    with open(path, "w", encoding="utf-8") as fh:
        fh.write(",".join(names) + "\n")
        fh.write("\n".join(",".join(row) for row in body))
        fh.write("\n")
    size = os.path.getsize(path)
    if size > MAX_CSV_BYTES:
        raise RuntimeError(f"generated CSV is {size} bytes, over the 10 MB cap")
    return int(bad.sum()), ~bad


class EtlRoundtrip:
    """Closed-loop client of the four verbs; one cycle is one pass."""

    # set-up already writes tables and reads the zip, and a warm cycle
    # would take a third of a run for a 5-20 % faster timed cycle
    warm_passes = 0

    def __init__(self, spark, work_dir: str, seed: int) -> None:
        self.spark = spark
        self.work = work_dir
        self.rng = np.random.default_rng([seed, 1])
        self.engine = None
        self.book = KeyBook()

    def prepare(self) -> None:
        """A fresh engine over an empty store: dimension tables written,
        the media zip ingested. Repeatable: each call starts over."""
        from advanced_strapi_import_spark.api import Engine
        from advanced_strapi_import_spark.schema import Registry

        store = os.path.join(self.work, "store")
        shutil.rmtree(store, ignore_errors=True)
        os.makedirs(store)
        zpath = os.path.join(self.work, "media.zip")
        if not os.path.exists(zpath):
            write_media_zip(zpath, np.random.default_rng([0, 2]))
        eng = Engine(spark=self.spark, registry=Registry.from_dict(REGISTRY_DICT),
                     storage_root=store)
        eng.write_table("brand", self.spark.createDataFrame(
            brand_rows(), "id long, name string, code string"))
        eng.write_table("tag", self.spark.createDataFrame(
            tag_rows(), "id long, name string"))
        eng.ingest_media_zip(zpath, "item", "key")
        self.engine = eng
        self.book = KeyBook()

    def after_op(self) -> None:
        pass

    def report(self, records: list[dict]) -> None:
        """Print the verb figures the generic metrics fold together."""
        import sys

        rows = sum(r["rows"] for r in records if r["op"].startswith("import_csv"))
        secs = sum(r["s"] for r in records if r["op"].startswith("import_csv"))
        if secs:
            print(f"# import_rows_per_s = {rows / secs:.1f} rows/s", file=sys.stderr)

    def pass_ops(self):
        """The four verbs of one cycle as (op_name, fn) pairs; each fn
        returns (ok, detail, rows)."""
        n = INSERT_ROWS
        book, rng, eng = self.book, self.rng, self.engine
        ins_path = os.path.join(self.work, "insert.csv")
        ups_path = os.path.join(self.work, "upsert.csv")
        ins_keys = book.fresh(rng, n)
        # the insert names brands, the upsert gives their codes: both
        # header forms run in every cycle, so every seed plans alike
        n_bad, ok_mask = write_csv(ins_path, rng, ins_keys, by_code=False)
        # half of the upsert's keys are stored by the time it runs (earlier
        # cycles' keys, and this cycle's valid insert rows), so it updates
        # about half its rows and creates the rest
        n_up = n // 2
        have = np.union1d(np.flatnonzero(book.stored), ins_keys[ok_mask])
        old = rng.choice(have, size=n_up // 2, replace=False)
        up_keys = np.concatenate([old, book.fresh(rng, n_up - old.size, ins_keys)])
        rng.shuffle(up_keys)
        u_bad, u_ok = write_csv(ups_path, rng, up_keys, by_code=True)

        def validate(tracer=None):
            rep = eng.validate_csv(ins_path, "item")
            ok = rep["totalRows"] == n and rep["invalidRows"] == n_bad
            return ok, f"total={rep['totalRows']} invalid={rep['invalidRows']}", n

        def insert(tracer=None):
            out = eng.import_csv(ins_path, "item", media_match_field="key")
            ok = (out.get("created") == n - n_bad and out.get("updated") == 0
                  and out.get("invalidRows") == n_bad)
            book.stored[ins_keys[ok_mask]] = True
            return ok, str(out), n

        def upsert(tracer=None):
            valid = up_keys[u_ok]
            exp_upd = int(book.stored[valid].sum())
            exp_new = int(valid.size - exp_upd)
            # media ids were attached at insert; the upsert leaves them
            out = eng.import_csv(ups_path, "item", upsert=True, upsert_field="key")
            ok = (out.get("created") == exp_new and out.get("updated") == exp_upd
                  and out.get("invalidRows") == u_bad)
            book.stored[valid] = True
            return ok, str(out), up_keys.size

        def export(tracer=None):
            stored = book.n_stored
            stats: dict = {}
            # limit = stored row count: an unbounded limit with order_by
            # runs out of driver memory (see perfbench/metadata.json)
            eng.export_csv("item", os.path.join(self.work, "export"),
                           limit=stored, order_by="key", stats_out=stats)
            ok = stats.get("n_rows") == stored
            return ok, f"n_rows={stats.get('n_rows')} stored={stored}", stored

        return [("validate_csv", validate), ("import_csv", insert),
                ("import_csv_upsert", upsert), ("export_csv", export)]
