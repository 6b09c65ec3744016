"""The engine's user-facing verbs — SURVEY.md §2.10.

One function per reference endpoint (/root/reference/server/routes/
index.js:3-67), re-expressed as an embeddable Python API over parquet
table storage:

    GET  /content-types      -> Engine.list_content_types
    POST /preview/:ct        -> Engine.preview_csv        (L2: 10 rows)
    POST /upload/:ct         -> Engine.validate_csv       (L1: 5 rows)
    POST /upload-zip         -> Engine.ingest_zip
    POST /upload-media-zip   -> Engine.ingest_media_zip
    POST /import/:ct         -> Engine.import_csv         (§3.1 pipeline)
    POST /export/:ct         -> Engine.export_csv         (L4: 1000 rows)

The import pipeline is ONE lazy plan end to end (csv scan -> validate ->
FK resolve -> components -> media match -> merge); its actions are the
invalid-row count and the final write. The created/updated counters ride
that write as an ``Observation``, so the merge runs exactly once. Media
matching reads the file table the ``ingest_*zip`` verb persisted, as the
reference matches against the media library it uploaded to once.

The batch the validate and import verbs read is ONE partition from the
scan onwards (:func:`batch_scan`): the reference numbers rows by their
place in the uploaded file, and a file capped at 10 MB numbers in one
task without the single-partition shuffle a global ``row_number`` would
otherwise plan. The validate report is one aggregate (both counts and
the capped error list) plus the 5-row preview.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F
from pyspark.sql.types import ArrayType, DataType, MapType, StructField, StructType
from pyspark.sql.window import Window

from advanced_strapi_import_spark.operators import components as C
from advanced_strapi_import_spark.operators import export as X
from advanced_strapi_import_spark.operators import media as M
from advanced_strapi_import_spark.operators import resolve as R
from advanced_strapi_import_spark.operators import upsert as U
from advanced_strapi_import_spark.operators import validate as V
from advanced_strapi_import_spark.schema import Registry
from advanced_strapi_import_spark.sources import zip_source as Z
from advanced_strapi_import_spark.sources.csv_source import csv_scan, preview


# Reference file limits (/root/reference/README.md "File Limits":
# max 10MB, CSV only; UI check admin/src/components/PluginPage.js:73-82).
MAX_CSV_BYTES = 10 * 1024 * 1024


def _as_nullable(dt: DataType) -> DataType:
    """``dt`` as a parquet write stores it: every field, array element
    and map value nullable (Spark's writer relaxes them all)."""
    if isinstance(dt, StructType):
        return StructType([
            StructField(f.name, _as_nullable(f.dataType), True, f.metadata)
            for f in dt.fields
        ])
    if isinstance(dt, ArrayType):
        return ArrayType(_as_nullable(dt.elementType), True)
    if isinstance(dt, MapType):
        return MapType(_as_nullable(dt.keyType), _as_nullable(dt.valueType), True)
    return dt


def _dir_stamp(path: str) -> tuple[int, int]:
    """Identity of a table directory's current content: any write
    replaces the directory or changes its entries."""
    st = os.stat(path)
    return st.st_ino, st.st_mtime_ns


def check_csv_file(path: str) -> None:
    """Reject non-.csv and >10MB inputs with the reference's error
    surface before any Spark plan is built."""
    if not path.lower().endswith(".csv"):
        raise ValueError("Please select a valid CSV file")
    if os.path.exists(path) and os.path.getsize(path) > MAX_CSV_BYTES:
        raise ValueError("Maximum file size: 10MB")


def batch_scan(spark: SparkSession, path: str) -> DataFrame:
    """The API's import batch: the checked CSV, read as ONE partition.

    ``validate_df`` numbers rows with a global ``row_number`` window,
    which runs in one partition whatever the scan gives it; over a
    parallel scan Spark first gathers the rows with an ``Exchange
    SinglePartition``. Coalescing the scan instead hands the window a
    single partition with no shuffle, and the rows keep file order
    (split order, then line order), which is the order the "Row N"
    numbers follow. Only the scan of a file :func:`check_csv_file`
    capped at 10 MB is narrowed: everything after the window runs in
    one partition either way."""
    check_csv_file(path)
    return csv_scan(spark, path).coalesce(1)


@dataclass
class Engine:
    spark: SparkSession
    registry: Registry
    storage_root: str
    # media field -> its ingested files, and the persisted file table
    # that frame reads (one table per ingest, shared by its fields)
    _media: dict[str, DataFrame] = field(default_factory=dict)
    _media_tables: dict[str, DataFrame] = field(default_factory=dict)
    # parquet table path -> (directory stamp, schema as read back): one
    # entry per path, so the memo is bounded by the number of tables
    _schemas: dict[str, tuple[tuple[int, int], StructType]] = field(
        default_factory=dict
    )

    # -- storage ---------------------------------------------------------
    def _path(self, ct_name: str) -> str:
        return os.path.join(self.storage_root, ct_name)

    def table(self, ct_name: str, *, fmt: str = "parquet") -> DataFrame:
        """Read a stored table. ``fmt`` selects the storage format —
        parquet (default), orc, or json (JSONL); all three are
        splittable columnar/line formats Spark scans in parallel with
        pushdown (parquet/orc) or schema inference capped by the
        stored schema (json).

        Parquet reads skip Spark's schema-inference job (one footer-read
        job per read) when the directory is unchanged since this engine
        wrote or read it; a write from outside the engine changes the
        directory stamp and re-infers."""
        path = self._path(ct_name)
        if fmt != "parquet":
            return self.spark.read.format(fmt).load(path)
        if not os.path.exists(path):
            return self.spark.read.parquet(path)  # Spark's own missing-path error
        stamp = _dir_stamp(path)
        memo = self._schemas.get(path)
        if memo is not None and memo[0] == stamp:
            return self.spark.read.schema(memo[1]).parquet(path)
        df = self.spark.read.parquet(path)
        self._schemas[path] = (stamp, df.schema)
        return df

    def write_table(
        self, ct_name: str, df: DataFrame, *,
        batch_size: int | None = None, fmt: str = "parquet",
    ) -> None:
        """Atomic swap-write: when the plan being written READS the same
        table (upsert merge), a direct overwrite would delete its own
        input mid-scan. Write to a temp dir, then swap (the non-Delta
        MERGE fallback from SURVEY §4).

        ``batch_size`` is the reference's write-batching knob
        (csv-import.js:363, default 100 rows/insert batch) mapped to
        its Spark analog: maxRecordsPerFile caps rows per output file."""
        path = self._path(ct_name)
        writer = df.write.mode("overwrite").format(fmt)
        if batch_size:
            writer = writer.option("maxRecordsPerFile", batch_size)
        if os.path.exists(path):
            import shutil

            tmp = path + ".__tmp__"
            writer.save(tmp)
            shutil.rmtree(path)
            os.rename(tmp, path)
        else:
            writer.save(path)
        if fmt == "parquet":
            self._schemas[path] = (_dir_stamp(path), _as_nullable(df.schema))

    def has_table(self, ct_name: str) -> bool:
        return os.path.exists(self._path(ct_name))

    def compact_table(
        self, ct_name: str, *, target_file_bytes: int = 128 * 1024 * 1024
    ) -> int:
        """Small-file compaction: rewrite the table so each parquet file
        is ~``target_file_bytes``. Incremental sinks (batched imports,
        streaming foreachBatch upserts) accrete small files; at scale
        that degrades scans (footer/open cost per file, tiny row
        groups) and the fix is a periodic rewrite — the parquet-dir
        analog of Delta OPTIMIZE / Iceberg rewrite_data_files.

        File count = ceil(bytes / target); the rewrite is one
        round-robin repartition (no key, no skew), reusing the atomic
        swap so readers never see a half-compacted table. Returns the
        new file count."""
        import math

        path = self._path(ct_name)
        total = sum(
            os.path.getsize(os.path.join(root, f))
            for root, _, files in os.walk(path)
            for f in files
            if f.endswith(".parquet")
        )
        n_files = max(1, math.ceil(total / target_file_bytes))
        self.write_table(ct_name, self.table(ct_name).repartition(n_files))
        return n_files

    # -- verbs -----------------------------------------------------------
    def list_content_types(self) -> list[dict[str, str]]:
        """GET /content-types (controllers/csv-import.js:7-20)."""
        return self.registry.list_tables()

    def preview_csv(self, path: str, ct_name: str) -> dict:
        """POST /preview/:ct — headers + 10 rows + schema attribute names
        (controllers/csv-import.js:113-124)."""
        check_csv_file(path)
        df = csv_scan(self.spark, path)
        out = preview(df, 10)
        out["attributes"] = list(self.registry.get(ct_name).attributes)
        return out

    def validate_csv(
        self, path: str, ct_name: str, *, error_cap: int = 10_000
    ) -> dict:
        """POST /upload/:ct — validation report + 5-row preview
        (controllers/csv-import.js:25-84).

        The report is ONE aggregate over the validated batch (the total
        count, the valid count and the first ``error_cap`` invalid rows'
        error arrays) plus the bounded preview collect. The batch is one
        partition (:func:`batch_scan`), so the collected list is in row
        order and neither the aggregate nor the running count of invalid
        rows that caps its list shuffles.

        The per-row error report is DRIVER-BOUNDED (VERDICT r10 item 2):
        the reference returns every row error in the HTTP response,
        which is fine under its 10 MB upload cap, but a pathological
        batch that is mostly invalid must not drive an unbounded
        ``collect()`` — only the first ``error_cap`` invalid ROWS ship
        their error strings; ``invalidRows`` stays the exact full count
        and ``errorsTruncated`` flags the capped case (the complete
        invalid-row frame remains available distributed via
        :func:`validate.validate_df` for side-table writes)."""
        ct = self.registry.get(ct_name)
        res = V.validate_df(batch_scan(self.spark, path), ct, self.registry)
        is_invalid = F.size(V.ERRORS_COL) > 0
        # invalid rows up to each row, so the list buffers only the rows
        # it returns: a 10 MB batch can hold millions of invalid rows
        upto = Window.orderBy(V.ROW_COL).rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        total, valid_rows, invalid = res.all.withColumn(
            "__invalid_upto", F.count(F.when(is_invalid, 1)).over(upto)
        ).agg(
            F.count(F.lit(1)),
            F.count(F.when(~is_invalid, 1)),
            # collect_list skips the NULLs every other row gives
            F.collect_list(F.when(
                is_invalid & (F.col("__invalid_upto") <= error_cap),
                F.col(V.ERRORS_COL),
            )),
        ).first()
        return {
            "errors": res.schema_errors + [e for errs in invalid for e in errs],
            "warnings": res.warnings,
            "preview": [r.asDict() for r in res.valid.limit(5).collect()],
            "totalRows": total,
            "validRows": valid_rows,
            "invalidRows": total - valid_rows,
            "errorsTruncated": total - valid_rows > len(invalid),
        }

    def _persist_media(self, files: DataFrame) -> DataFrame:
        """Persist an ingested file table (evictable: a lost block is
        recomputed from the archive). Spark keys its cache by plan, and
        an archive ingested again plans like its earlier ingest, whose
        entry holds the archive as it was then: drop that entry first."""
        for table in self._media_tables.values():
            if table.sameSemantics(files):
                table.unpersist()
        return files.persist()

    def _route_media(self, table: DataFrame, routes: dict[str, DataFrame]) -> None:
        """Point media fields at ``routes`` (field -> files read from the
        persisted ``table``) and unpersist every file table no field
        reads any more, so the engine holds one per live ingest."""
        old = list(self._media_tables.values())
        for fld, files in routes.items():
            self._media[fld] = files
            self._media_tables[fld] = table
        live = list(self._media_tables.values())
        for table in old:
            # a table planned like a live one shares its cache entry
            if not any(table.sameSemantics(t) for t in live):
                table.unpersist()

    def ingest_zip(self, path: str, media_field: str) -> DataFrame:
        """POST /upload-zip (S8): flat unzip -> files table.

        The table is built once here, as the reference uploads the files
        to its media library once: it is persisted and filled, and every
        later ``import_csv`` matching against ``media_field`` reads the
        cached rows instead of unzipping the archive again."""
        files = Z.hygiene_filter(Z.zip_entries(self.spark, path, skip_corrupt=True))
        # corrupt-archive marker rows are a side signal, not media files:
        # stored they would inflate counts and join as matchable names
        files = files.filter(F.col("name") != "__CORRUPT__")
        # the id import_csv's media match attaches: entry-path order,
        # as Z.media_files numbers the foldered verb's files
        files = self._persist_media(
            files.dropDuplicates(["name", "entry_path"])
            .withColumn("mime", M.mime_type(F.col("name")))
            .withColumn(
                "id", F.row_number().over(Window.orderBy("zip_path", "entry_path"))
            )
        )
        files.count()
        self._route_media(files, {media_field: files})
        return files

    def ingest_media_zip(self, path: str, ct_name: str, match_field: str) -> DataFrame:
        """POST /upload-media-zip (S9): foldered unzip -> routed files.

        Folder names route case-insensitively onto the content type's
        media attributes (the zip router lowercases folder names, so a
        camelCase attribute like ``coverImage`` would otherwise never
        match import_csv's case-sensitive attribute check).

        The routed table is built once here: it is persisted, the
        routing's distinct-field collect fills it, and every later
        ``import_csv`` with media matching reads the cached rows (no
        archive read, unzip or id window per import)."""
        ct = self.registry.get(ct_name)
        by_lower = {a.lower(): a for a in ct.attributes}
        routed = self._persist_media(Z.media_files(self.spark, path))
        routes = {}
        for row in routed.select("field").distinct().collect():
            fld = by_lower.get(row["field"].lower(), row["field"])
            routes[fld] = routed.filter(F.col("field") == row["field"])
        self._route_media(routed, routes)
        return routed

    def import_csv(
        self,
        path: str,
        ct_name: str,
        *,
        upsert: bool = False,
        upsert_field: str = "id",
        media_match_field: str | None = None,
        strict: bool = False,
        batch_size: int | None = None,
        error_cap: int = 10_000,
    ) -> dict[str, Any]:
        """POST /import/:ct — the §3.1 flagship pipeline.

        ``error_cap`` bounds the strict-mode error collect the same way
        as :meth:`validate_csv` — see there."""
        ct = self.registry.get(ct_name)
        res = V.validate_df(batch_scan(self.spark, path), ct, self.registry)
        # the scan+validate subtree feeds n_invalid, the error collect
        # AND the table write — cache it once
        res.all.persist()
        try:
            return self._import_csv_body(
                res, ct, ct_name,
                upsert=upsert, upsert_field=upsert_field,
                media_match_field=media_match_field, strict=strict,
                batch_size=batch_size, error_cap=error_cap,
            )
        finally:
            res.all.unpersist()

    def _import_csv_body(
        self,
        res: V.ValidationResult,
        ct,
        ct_name: str,
        *,
        upsert: bool,
        upsert_field: str,
        media_match_field: str | None,
        strict: bool,
        batch_size: int | None,
        error_cap: int = 10_000,
    ) -> dict[str, Any]:
        n_invalid = res.invalid.count()
        if res.schema_errors or (strict and n_invalid):
            capped = (
                res.invalid.select(V.ERRORS_COL).limit(error_cap).collect()
            )
            return {
                "created": 0, "updated": 0,
                "errors": res.schema_errors
                + [e for r in capped for e in r[V.ERRORS_COL]],
                "errorsTruncated": n_invalid > len(capped),
            }

        df = res.valid
        targets = {
            a.target: self.table(a.target)
            for a in ct.attributes.values()
            if a.type == "relation" and a.target and self.has_table(a.target)
        }
        df = R.resolve_all_relations(
            df, ct, self.registry, targets, mapping=res.mapping, row_key=V.ROW_COL
        )

        for fld, files in self._media.items():
            if media_match_field and fld in ct.attributes:
                if fld in df.columns:
                    # a CSV header with the media field's name (e.g. a
                    # round-tripped export) would otherwise collide with
                    # match_media's out_col -> duplicate column at write
                    df = df.drop(fld)
                df = M.match_media(
                    df, files, media_match_field, row_key=V.ROW_COL, out_col=fld
                )

        # build component structs from their validated dot columns
        # (csv-import.js:664-676 componentData): single components only —
        # repeatable components have no CSV header convention in the
        # reference either
        for fld, attr in ct.attributes.items():
            if attr.type != "component" or attr.repeatable:
                continue
            cols = {
                m.component_field: V.dot_storage_col(m)
                for m in res.mapping.values()
                if m.is_component and m.field == fld and m.component_field
                and V.dot_storage_col(m) in df.columns
            }
            if cols:
                df = C.build_single_component(
                    df, fld, self.registry.components[attr.component], cols
                )

        # keep ROW_COL through the merge: it is the "last write wins" order
        # for duplicate upsert keys (reference processes rows sequentially)
        df = df.drop(*[c for c in df.columns if c.startswith("__dot__")])

        # the counters ride the table write: no separate pass over the batch
        obs = Observation()
        if upsert and self.has_table(ct_name):
            result = U.merge(self.table(ct_name), df, upsert_field, order_col=V.ROW_COL)
            self.write_table(ct_name, result.observed(obs), batch_size=batch_size)
        else:
            if upsert:
                # one row per key, as the merge would leave it
                df = U.dedupe_batch(df, upsert_field, V.ROW_COL)
            df = df.drop(V.ROW_COL).observe(obs, F.count(F.lit(1)).alias("created"))
            if self.has_table(ct_name):
                self.write_table(
                    ct_name,
                    self.table(ct_name).unionByName(df, allowMissingColumns=True),
                    batch_size=batch_size,
                )
            else:
                self.write_table(ct_name, df, batch_size=batch_size)
        counters = obs.get
        return {
            "created": counters["created"],
            "updated": counters.get("updated", 0),
            "invalidRows": n_invalid,
        }

    def export_csv(
        self,
        ct_name: str,
        out_path: str,
        *,
        filters: dict[str, Any] | None = None,
        limit: int = 1000,
        order_by: str | None = None,
        stats_out: dict[str, Any] | None = None,
    ) -> DataFrame:
        """POST /export/:ct — populate + flatten + CSV write (§3.3).

        Pass ``stats_out={}`` to receive ``{"n_rows": N}`` measured by
        a CollectMetrics observation riding the write job itself — a
        ``count()`` after the fact would re-execute the whole
        populate/flatten pipeline as a second pass (joins included),
        which is the difference between one scan and two at 100 TB."""
        ct = self.registry.get(ct_name)
        df = self.table(ct_name)
        for k, v in (filters or {}).items():
            df = df.filter(F.col(k) == F.lit(v))
        # row_key must uniquely identify rows, NEVER the order_by sort
        # column: grouping the exploded FKs by a non-unique value would
        # merge different rows' display lists into each other. Tables
        # without an id column get a synthetic unique key for the
        # flatten joins, dropped before the write.
        row_key = "id"
        if row_key not in df.columns:
            row_key = "__xid"
            df = df.withColumn(row_key, F.monotonically_increasing_id())
        # multi relations explode the stored rows: exploding the frame
        # the scalar flattens have joined would carry their broadcast
        # joins into the explode too (Spark keeps an unused left join)
        stored = df
        for fname, attr in ct.attributes.items():
            if attr.type != "relation" or fname not in df.columns:
                continue
            if not self.has_table(attr.target):
                continue
            tgt = self.table(attr.target)
            tct = self.registry.get(attr.target)
            if attr.is_multi_relation:
                displays = X.multi_relation_display(
                    stored, fname, tgt, tct, row_key=row_key
                )
                df = df.drop(fname).join(displays, row_key, "left")
            else:
                df = X.flatten_scalar_relation(df, fname, tgt, tct)
        if row_key == "__xid":
            df = df.drop("__xid")
        for fname, attr in ct.attributes.items():
            # media columns are array<bigint> of file ids; the CSV writer
            # rejects arrays, so export them the way multi-relations
            # export: ', '-joined ids, NULL when unset
            if attr.type == "media" and fname in df.columns:
                df = df.withColumn(
                    fname,
                    F.when(
                        F.col(fname).isNotNull() & (F.size(fname) > 0),
                        F.array_join(
                            F.transform(fname, lambda x: x.cast("string")), ", "
                        ),
                    ),
                )
        for fname, attr in ct.attributes.items():
            if attr.type == "component" and fname in df.columns:
                if attr.repeatable:
                    df = X.flatten_repeatable_component(df, fname)
                else:
                    df = X.flatten_single_component(df, fname)
        df = X.drop_metadata(df)
        if order_by and order_by in df.columns:
            df = df.orderBy(order_by)
        df = df.limit(limit)
        obs = None
        if stats_out is not None:
            obs = Observation()
            df = df.observe(obs, F.count(F.lit(1)).alias("n_rows"))
        X.write_csv(df, out_path)
        if obs is not None:
            stats_out.update(obs.get)
        return df

    # -- SQL surface -----------------------------------------------------
    def sql(
        self, query: str, *, fmt: str = "parquet", args: dict | None = None
    ) -> DataFrame:
        """Run ANSI SQL over the engine's stored content types: every
        table under ``storage_root`` registers as a temp view named
        after its content type, then the query plans through Catalyst
        exactly like the DataFrame API (same pushdown, same AQE). The
        reference exposes filtered REST reads (`/content-types/.../
        export` filters); this is the superset surface a warehouse
        user expects — arbitrary joins/aggregates over the same
        governed tables, no copies.

        ``args`` binds named parameter markers (``:name``) via Spark's
        parameterized SQL — values travel as typed literals, never
        spliced into the query text, so a caller-supplied filter value
        cannot change the query's structure (the injection-safe path
        the reference's querystring filters map onto)."""
        import os as _os

        for name in sorted(_os.listdir(self.storage_root)):
            p = _os.path.join(self.storage_root, name)
            if _os.path.isdir(p):
                try:
                    self.table(name, fmt=fmt).createOrReplaceTempView(name)
                except Exception:
                    continue  # non-table dirs (checkpoints, tmp) skip
        if args:
            return self.spark.sql(query, args=args)
        return self.spark.sql(query)
