"""Keytable (tag dictionary) construction from data.

The reference stores every key/value/role/user string int-coded through
"keytables", frequency-ordered so the most common strings get the smallest
ids (documentation/manual/data-model.md "Keytables"; JDBC-backed lookup
JdbcTagTranslator.java, LRU-cached CachedTagTranslator.java).  The tables
are built once at ETL time from the raw data.

Spark shape: TWO aggregations over the raw string-tag table (keys; then
key+value pairs) — both shuffle pre-aggregated partial counts, never raw
rows, so the build is one pass at any scale.  The finished dictionary is
dictionary-small (bounded by distinct tag strings, not rows) and collects
to the driver; downstream it rides as a broadcast join dimension
(`encode_tags`) and as the filter DSL's TagTranslator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from oshdb_spark.filters.dsl import TagTranslator
from oshdb_spark.session import local_frame


def build_keytables(
    tags: DataFrame, key_col: str = "key", value_col: str = "value"
) -> TagTranslator:
    """Frequency-ordered keytables from a (key, value) string table.

    Key ids: 0..n by descending key frequency (ties broken by name for
    determinism).  Value ids: per key, 0..m by descending (key, value)
    frequency — matching the reference's per-key value id space
    (OSHDBTag is (int key, int value); data-model.md "Keytables").
    """
    key_rows = (
        tags.groupBy(key_col)
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc(key_col))
        .collect()
    )
    key_ids = {r[key_col]: i for i, r in enumerate(key_rows)}
    val_rows = (
        tags.groupBy(key_col, value_col)
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.asc(key_col), F.desc("n"), F.asc(value_col))
        .collect()
    )
    value_ids: dict[tuple[str, str], int] = {}
    counter: dict[str, int] = {}
    for r in val_rows:
        k = r[key_col]
        value_ids[(k, r[value_col])] = counter.get(k, 0)
        counter[k] = counter.get(k, 0) + 1
    return TagTranslator(keys=key_ids, values=value_ids)


def keytable_frames(spark, translator: TagTranslator):
    """The keytables as two small DataFrames (broadcast dimensions) —
    the columnar `key` / `keyvalue` tables (TableNames.java:7-60)."""
    keys = local_frame(
        spark, list(translator.keys.items()), "key string, key_id int"
    )
    vals = local_frame(
        spark,
        [(k, v, i) for (k, v), i in translator.values.items()],
        "key string, value string, value_id int",
    )
    return keys, vals


def encode_tags(
    df: DataFrame,
    spark,
    translator: TagTranslator,
    tags_col: str = "str_tags",
    out_col: str = "tags",
    id_col: str = "__row_id",
    key_cols: list[str] | None = None,
) -> DataFrame:
    """map<string,string> tags -> int-coded map<int,int> through the
    keytables, via explode + broadcast join + regroup (scale path: the
    dictionary broadcasts; rows never hash-join each other).

    Unknown keys/values are dropped (the reference's translator returns
    empty Optionals for strings absent from the keytables).

    ``key_cols``: stable per-row key columns (e.g. doc/entity id) used to
    join the regrouped tag maps back to the rows.  When omitted, a
    synthetic id is generated with ``monotonically_increasing_id`` and the
    frame is ``localCheckpoint``-ed FIRST — the function is
    nondeterministic, and without materialization the two sides of the
    self-join could re-evaluate it under different partition layouts (AQE
    re-plan, recomputation) and silently attach tag maps to wrong rows.
    Prefer passing ``key_cols``.
    """
    keys_df, vals_df = keytable_frames(spark, translator)
    if key_cols:
        with_id = df
        join_keys = list(key_cols)
        exploded = with_id.select(
            *join_keys, F.explode_outer(F.col(tags_col)).alias("key", "value")
        )
    else:
        with_id = df.withColumn(
            id_col, F.monotonically_increasing_id()
        ).localCheckpoint(eager=False)
        join_keys = [id_col]
        exploded = with_id.select(
            id_col, F.explode_outer(F.col(tags_col)).alias("key", "value")
        )
    coded = (
        exploded.join(F.broadcast(keys_df), "key", "left")
        .join(F.broadcast(vals_df), ["key", "value"], "left")
        .groupBy(*join_keys)
        .agg(
            F.map_from_entries(
                F.filter(
                    F.collect_list(
                        F.when(
                            F.col("key_id").isNotNull()
                            & F.col("value_id").isNotNull(),
                            F.struct(
                                F.col("key_id").alias("key"),
                                F.col("value_id").alias("value"),
                            ),
                        )
                    ),
                    lambda x: x.isNotNull(),
                )
            ).alias(out_col)
        )
    )
    out = with_id.join(coded, join_keys, "left")
    return out if key_cols else out.drop(id_col)


def build_role_table(roles: DataFrame, role_col: str = "role") -> dict[str, int]:
    """Frequency-ordered role keytable from a string-role table — the
    reference int-codes relation member roles exactly like tag strings
    (OSHDBRole.java, AbstractTagTranslatorTest testRole2Int/2String).
    Ties broken by name for determinism."""
    rows = (
        roles.groupBy(role_col)
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc(role_col))
        .collect()
    )
    return {r[role_col]: i for i, r in enumerate(rows)}


def encode_member_roles(
    df: DataFrame, translator: TagTranslator, members_col: str = "members"
) -> DataFrame:
    """Rewrite the relations' member structs with int-coded roles
    (string `role` -> int `role`), keeping type/ref untouched.

    Scale shape: the role dictionary is tiny (dozens of strings), so it
    inlines as a Catalyst map literal — a pure `transform` over the
    members array, zero shuffle and zero Python.  Unknown roles code to
    -1 (the reference's missing-Optional analog; OSM data has a fixed
    closed role vocabulary after keytable build, so -1 flags dirty input
    rather than silently dropping the member and breaking ring assembly).
    """
    if translator.roles:
        pairs = [
            F.lit(x) for r, i in translator.roles.items() for x in (r, i)
        ]
        mapping = F.create_map(*pairs)
        role_code = lambda m: F.coalesce(  # noqa: E731
            F.element_at(mapping, m["role"]), F.lit(-1)
        )
    else:
        role_code = lambda m: F.lit(-1)  # noqa: E731
    return df.withColumn(
        members_col,
        F.transform(
            F.col(members_col),
            lambda m: F.struct(
                m["type"].alias("type"),
                m["ref"].alias("ref"),
                role_code(m).cast("int").alias("role"),
            ),
        ),
    )
