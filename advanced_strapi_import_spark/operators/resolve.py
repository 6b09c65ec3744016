"""Entity-resolution (FK lookup) cascade — SURVEY.md §2.3 J1-J5.

The reference resolves every relation value with a per-row fallback
cascade of DB queries (/root/reference/server/services/csv-import.js:521-620):

    1. searchField $eqi exact        (when a `relation.field` header gave one)
    2. searchField $containsi fuzzy
    3. id equality (numeric values)
    4. common string fields [name,title,slug,displayName,label,country] $eqi
    5. $containsi on the first common field
    -- first hit wins, limit 1 per strategy.

Here the whole cascade is ONE set-oriented plan with a fixed number of
stages, however many arms the target's fields give:
  - distinct values are resolved once (not once per row — kills the N+1),
  - every equality arm, the id arm included, is ONE broadcast join
    against a stacked (kind, key, num, rank, id) lookup built from the
    target dimension: string arms match lower(value) under kind 0, the
    id arm matches Number(value) under kind 1, so a numeric probe never
    hits a name entry ('2.00' does not resolve to a row named '2.0'),
  - that join is a left join, aggregated per value to its best hit
    (the values are already partitioned by the distinct, so no shuffle),
  - every contains (theta) arm is ONE broadcast theta join whose
    predicate is the OR of the arms' contains tests and whose rank is
    that of the first arm that hit. It only sees the values whose best
    equality hit is missing or ranked below the FIRST contains arm (a
    filter, no anti-join), which keeps the non-equi join tiny while
    preserving strategy order: searchField $containsi outranks the id
    and common-field exact strategies,
  - precedence = min(struct(rank, id)) per value; ties inside one
    strategy break deterministically on min id (the reference takes the
    DB's arbitrary first row — documented divergence).

Scale: the lookup side is the dimension table, broadcast (it is the
reference's FK target, read whole per import); the values side is the
distinct relation values of one batch, and the per-batch value -> id
mapping broadcasts back onto the batch rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.functions import broadcast

from advanced_strapi_import_spark.functions.casts import is_numeric, split_trim
from advanced_strapi_import_spark.operators.validate import dot_storage_col
from advanced_strapi_import_spark.schema import ContentType, Registry

VALUE_COL = "__value"
RESOLVED_COL = "__resolved_id"


def _strategies(
    target_ct: ContentType, registry: Registry, search_field: str | None
) -> tuple[list[tuple[int, str]], list[tuple[int, str]], int | None]:
    """Return (exact_arms [(rank, field)], contains_arms [(rank, field)],
    id_rank) in reference precedence order."""
    exact: list[tuple[int, str]] = []
    contains: list[tuple[int, str]] = []
    rank = 0
    if search_field and search_field in target_ct.attributes:
        exact.append((rank, search_field)); rank += 1
        contains.append((rank, search_field)); rank += 1
    id_rank = rank; rank += 1
    commons = registry.search_fields(target_ct)
    for f in commons:
        exact.append((rank, f)); rank += 1
    if commons:
        contains.append((rank, commons[0])); rank += 1
    return exact, contains, id_rank


def resolve_values(
    values: DataFrame,
    target: DataFrame,
    target_ct: ContentType,
    registry: Registry,
    *,
    search_field: str | None = None,
    id_col: str = "id",
) -> DataFrame:
    """Resolve a one-column DataFrame of distinct strings (VALUE_COL) to
    target ids -> (VALUE_COL, RESOLVED_COL); unresolved values are absent.
    """
    exact, contains, id_rank = _strategies(target_ct, registry, search_field)

    vals = values.select(VALUE_COL).where(F.col(VALUE_COL).isNotNull()).distinct()
    tid = F.col(id_col).cast("long").alias("__id")

    # --- equality arms: ONE join on a stacked (kind, key, num) lookup ----
    # kind 0: string arms, lower(field) == lower(value).
    # kind 1: the id arm (csv-import.js:555-566), JS Number(value) == id
    # as float equality, numeric literals only; try_cast avoids
    # ANSI-mode cast errors. The kind keeps a numeric probe off the
    # name entries.
    lookup = target.select(
        F.lit(1).alias("__kind"), F.lit("").alias("__k"),
        F.col(id_col).cast("double").alias("__n"),
        F.lit(id_rank).alias("__rank"), tid,
    )
    for rank, fld in exact:
        lookup = lookup.unionByName(target.select(
            F.lit(0).alias("__kind"), F.lower(F.col(fld).cast("string")).alias("__k"),
            F.lit(0.0).alias("__n"), F.lit(rank).alias("__rank"), tid,
        ))
    v = F.col(VALUE_COL)
    probes = vals.select(VALUE_COL, F.inline(F.array_compact(F.array(
        F.struct(F.lit(0).alias("__kind"), F.lower(v).alias("__k"),
                 F.lit(0.0).alias("__n")),
        F.when(is_numeric(v), F.struct(
            F.lit(1).alias("__kind"), F.lit("").alias("__k"),
            v.try_cast("double").alias("__n"),
        )),
    ))))
    # left join: every value keeps one row, with its best equality hit
    # or none, and the values stay partitioned by the distinct above
    best = (
        probes.join(broadcast(lookup), ["__kind", "__k", "__n"], "left")
        .groupBy(VALUE_COL)
        .agg(F.min(F.when(F.col("__rank").isNotNull(),
                          F.struct("__rank", "__id"))).alias("__best"))
    )
    found = best.where(F.col("__best").isNotNull())

    # --- contains arms: ONE broadcast theta join -------------------------
    # In the reference, searchField $containsi (strategy 2) runs BEFORE
    # the id and common-field $eqi strategies (csv-import.js:521-620),
    # so the theta join sees every value no arm ranked above the FIRST
    # contains arm matched, and a lower-ranked contains arm's hit can
    # never shadow a better one: min(struct(rank, id)) arbitrates, and a
    # dimension row hit by several arms takes the first arm's rank.
    if contains:
        missed = best.where(
            F.col("__best").isNull() | (F.col("__best.__rank") > contains[0][0])
        )
        cols = {fld: f"__c{i}"
                for i, fld in enumerate(dict.fromkeys(f for _, f in contains))}
        dim = target.select(tid, *[
            F.lower(F.col(fld).cast("string")).alias(c) for fld, c in cols.items()
        ])
        hits = [(rank, F.col(cols[fld]).contains(F.lower(v))) for rank, fld in contains]
        pred = hits[0][1]
        rank_of = F.when(hits[0][1], F.lit(hits[0][0]))
        for rank, hit in hits[1:]:
            pred = pred | hit
            rank_of = rank_of.when(hit, F.lit(rank))
        theta = missed.join(broadcast(dim), pred, "inner").select(
            VALUE_COL, F.struct(rank_of.alias("__rank"), "__id").alias("__best")
        )
        found = (
            found.unionByName(theta)
            .groupBy(VALUE_COL).agg(F.min("__best").alias("__best"))
        )

    return found.select(VALUE_COL, F.col("__best.__id").alias(RESOLVED_COL))


def resolve_relation(
    df: DataFrame,
    field_name: str,
    ct: ContentType,
    target: DataFrame,
    target_ct: ContentType,
    registry: Registry,
    *,
    search_field: str | None = None,
    dot_col: str | None = None,
    id_col: str = "id",
    row_key: str = "__row",
) -> DataFrame:
    """J2/J3/J4: replace ``field_name`` on ``df`` with resolved FK id(s).

    - dot-notation value column (J4) takes precedence over the direct one
      (csv-import.js:450-459);
    - scalar relations -> long id, miss -> null (reference deletes the
      key, csv-import.js:471 — null is the columnar equivalent);
    - multi relations -> array of ids in input token order, misses
      dropped; all-missed -> null (csv-import.js:475-493).

    The value -> id mapping joins back with an explicit broadcast: it
    has at most one row per distinct relation value of the batch (an
    import batch is a CSV of at most 10 MB), and without the hint the
    join plans as a sort-merge join that AQE converts only after both
    of its shuffles ran.
    """
    attr = ct.attributes[field_name]
    has_dot = dot_col is not None and dot_col in df.columns
    has_direct = field_name in df.columns
    if has_dot and has_direct:
        src = F.coalesce(F.col(f"`{dot_col}`"), F.col(field_name))
    elif has_dot:
        src = F.col(f"`{dot_col}`")
    else:
        src = F.col(field_name)

    if attr.is_multi_relation:
        work = df.withColumn("__tokens", split_trim(src))
        exploded = work.select(
            F.col(row_key), F.posexplode_outer("__tokens").alias("__pos", VALUE_COL)
        )
        mapping = resolve_values(
            exploded.select(VALUE_COL), target, target_ct, registry,
            search_field=search_field, id_col=id_col,
        )
        resolved = (
            exploded.join(broadcast(mapping), VALUE_COL, "left")
            .groupBy(row_key)
            .agg(
                F.array_compact(
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct("__pos", RESOLVED_COL))
                        ),
                        lambda s: s[RESOLVED_COL],
                    )
                ).alias("__ids")
            )
            .select(
                row_key,
                F.when(F.size("__ids") > 0, F.col("__ids")).alias(field_name),
            )
        )
        # resolved is hash-partitioned on row_key by its groupBy; a
        # shuffled hash join needs no sort and leaves AQE no late
        # sort-merge -> broadcast conversion to pay for
        out = work.drop("__tokens", field_name).join(
            resolved.hint("shuffle_hash"), row_key, "left"
        )
    else:
        work = df.withColumn(VALUE_COL, src)
        mapping = resolve_values(
            work.select(VALUE_COL), target, target_ct, registry,
            search_field=search_field, id_col=id_col,
        )
        out = (
            work.join(broadcast(mapping), VALUE_COL, "left")
            .drop(VALUE_COL)
            .withColumn(field_name, F.col(RESOLVED_COL))
            .drop(RESOLVED_COL)
        )
    if dot_col and dot_col in df.columns:
        out = out.drop(dot_col)
    return out


def resolve_all_relations(
    df: DataFrame,
    ct: ContentType,
    registry: Registry,
    targets: dict[str, DataFrame],
    *,
    mapping: dict | None = None,
    row_key: str = "__row",
    id_cols: dict[str, str] | None = None,
) -> DataFrame:
    """processRelations analog (csv-import.js:433-513): resolve every
    relation attribute of ``ct`` present on ``df``; ``targets`` maps
    content-type name -> dimension DataFrame."""
    out = df
    for fname, attr in ct.attributes.items():
        if attr.type != "relation" or attr.target not in targets:
            continue
        dot_col = None
        search_field = None
        if mapping:
            for m in mapping.values():
                if m.is_valid and m.is_dot_notation and not m.is_component and m.field == fname:
                    dot_col = dot_storage_col(m)
                    search_field = m.relation_field
                    break
        if fname not in out.columns and (dot_col is None or dot_col not in out.columns):
            continue
        out = resolve_relation(
            out, fname, ct, targets[attr.target], registry.get(attr.target),
            registry, search_field=search_field, dot_col=dot_col,
            id_col=(id_cols or {}).get(attr.target, "id"), row_key=row_key,
        )
    return out
