"""Online serving semantics as DataFrame queries (SURVEY.md §2.2).

The reference serves vectors through Redis -> RocksDB-vector ->
scalar-assembly fallback (OnlineServingService.java:41-152). The
latency tiers are infrastructure, not semantics; what must be
preserved is the *routing logic* and the vector contract (values +
is_default_mask + value_ages_ms + source + staleness warnings). Here:

- the cache, ``online_vectors`` and ``online_scalars`` tiers are tables
  (FIXTURES.md §7),
- a batch get is ONE aggregate over request-filtered tiers: each tier
  is reached only through a ``left_semi`` join against the broadcast
  request ids (one broadcast, reused by all three tiers), so a get
  reads O(requested) tier rows past the scan and shuffles no whole
  table. The filtered tier rows and the request rows themselves are
  unioned into one ``groupBy(entity)``: ``min_by`` over tier priority
  picks the cache/vector envelope, one ``max_by`` per feature slot
  assembles the scalar tier (the slot rule ``assemble_vectors`` uses),
  and exploding the collected request rows gives one response per
  request row — three Spark jobs per get (broadcast, shuffle, result),
- the ``source`` column reproduces ROCKSDB_VECTOR / SCALAR_ASSEMBLY /
  MISS routing (OnlineServingService.java:50,69,90,98); REDIS_CACHE is
  a cache tier with identical semantics to the vector hit.
"""

from __future__ import annotations

from collections.abc import Sequence
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from feature_store_spark.operators.reshape import (
    in_features_sql,
    slot_aggregates_sql,
    slot_projection_sql,
    slot_vectors_sql,
    sql_ident,
)

STALENESS_WARN_MS = 24 * 3600 * 1000  # RocksDBFeatureStore.java:154-160

_ENVELOPE = "struct<values:array<double>,mask:array<boolean>,ages:array<bigint>>"


def _envelope_sql(ages: str = "`value_ages_ms`") -> str:
    return (
        "named_struct('values', CAST(`values` AS array<double>),"
        " 'mask', CAST(`is_default_mask` AS array<boolean>),"
        f" 'ages', CAST({ages} AS array<bigint>)) AS __e"
    )


def get_online_features(
    request_ids: DataFrame,
    vectors: DataFrame | None,
    scalars: DataFrame | None,
    feature_names: Sequence[str],
    defaults: dict[str, float] | None = None,
    entity_col: str = "entity_id",
    now_ms: int | None = None,
    cache: DataFrame | None = None,
    cache_ttl_ms: int | None = None,
) -> DataFrame:
    """Batch GetOnlineFeatures with the full fallback chain.

    request_ids: a DataFrame with ``entity_col`` (kept in input order
    via an explicit ``request_order`` column if present).
    Returns one row per request row — its columns as given, duplicate
    and NULL ids included — with values / mask / ages / source /
    stale_warning.

    ``vectors`` should hold ONE row per entity — the contract the
    materializer's last-writer-wins MERGE maintains (a KV store can't
    hold two values per key); so should ``cache``. Duplicate cache or
    vector rows break that contract but not the response shape: the
    get still answers one row per request row, from one of the
    duplicates. A cache or vector row with NULL ``values`` counts as
    absent. The scalar tier may hold any number of rows per (entity,
    feature): each slot serves the latest by ``event_time`` (NULL
    times lose), the rule ``assemble_vectors`` applies; features
    outside ``feature_names`` are ignored.

    ``cache`` + ``cache_ttl_ms`` add the REDIS_CACHE tier WITH its
    TTL semantics (RedisFeatureCache.java:45-120; the TTL knob is
    application.yml:53-55): a cache row (same vector envelope plus
    ``cached_at_ms``) serves
    iff ``now_ms - cached_at_ms < cache_ttl_ms``; an expired entry
    behaves exactly like an absent one and the read falls through to
    the deeper tiers. Served cache ages are aged forward by the
    elapsed time since caching, so the staleness warning is computed
    on the entry's TRUE age, not its age at cache time. The extra
    ``cache_backfill`` output column marks responses that came from a
    deeper tier while holding no valid cache entry — the read-through
    write-back set (the reference backfills Redis on every cache
    miss); a caller implements the backfill as one write of exactly
    those rows. ``now_ms`` is required with a cache: TTL needs a
    clock, and serving must not read the wall clock mid-plan
    (non-deterministic across retries).

    The plan is built from SQL text: each Column built in Python is a
    py4j round trip, and on a small get that driver time is most of
    the call.
    """
    if cache is not None and (cache_ttl_ms is None or now_ms is None):
        raise ValueError(
            "cache tier needs BOTH cache_ttl_ms and now_ms — TTL "
            "expiry is relative to an explicit serving clock"
        )
    feature_names = list(feature_names)
    key = sql_ident(entity_col)
    requested_keys = F.broadcast(request_ids.select(entity_col))

    def requested(tier: DataFrame, where: str, *cols: str) -> DataFrame:
        return (
            tier.where(where)
            .join(requested_keys, entity_col, "left_semi")
            .selectExpr(f"{key} AS __k", *cols)
        )

    request_struct = ", ".join(map(sql_ident, request_ids.columns))
    rows = [
        request_ids.selectExpr(
            f"{key} AS __k",
            f"struct({request_struct}) AS __r",
            "CAST(NULL AS INT) AS __p",
            f"CAST(NULL AS {_ENVELOPE}) AS __e",
        )
    ]
    aggs = ["collect_list(__r) AS __reqs", "min(__p) AS __p", "min_by(__e, __p) AS __e"]
    if cache is not None:
        # forward only REAL ages: -1 is the default-slot
        # sentinel the slot rule writes and staleness_gate keys on
        elapsed = f"({int(now_ms)}L - `cached_at_ms`)"
        ages = f"transform(`value_ages_ms`, a -> CASE WHEN a < 0 THEN a ELSE a + {elapsed} END)"
        rows.append(
            requested(
                cache,
                f"`values` IS NOT NULL AND {elapsed} < {int(cache_ttl_ms)}L",
                "0 AS __p",
                _envelope_sql(ages),
            )
        )
    if vectors is not None:
        rows.append(requested(vectors, "`values` IS NOT NULL", "1 AS __p", _envelope_sql()))
    if scalars is not None:
        rows.append(
            requested(
                scalars,
                in_features_sql("feature_name", feature_names),
                *slot_projection_sql("feature_name", "value", "event_time"),
            )
        )
        aggs += ["count(__n) > 0 AS __asm", *slot_aggregates_sql(feature_names)]
        asm_values, asm_mask, asm_ages = slot_vectors_sql(feature_names, defaults, now_ms)
    else:
        aggs.append("false AS __asm")
        asm_values = asm_mask = asm_ages = "NULL"

    unioned = reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), rows)
    served = unioned.groupBy("__k").agg(*map(F.expr, aggs)).selectExpr(
        "__reqs",
        f"CASE WHEN __p IS NOT NULL THEN __e.values WHEN __asm THEN {asm_values} END AS __values",
        f"CASE WHEN __p IS NOT NULL THEN __e.mask WHEN __asm THEN {asm_mask} END AS __mask",
        f"CASE WHEN __p IS NOT NULL THEN __e.ages WHEN __asm THEN {asm_ages} END AS __ages",
        "CASE WHEN __p = 0 THEN 'REDIS_CACHE' WHEN __p = 1 THEN 'ROCKSDB_VECTOR'"
        " WHEN __asm THEN 'SCALAR_ASSEMBLY' ELSE 'MISS' END AS __source",
    )
    extra = []
    if cache is not None:
        extra.append("__source IN ('ROCKSDB_VECTOR', 'SCALAR_ASSEMBLY') AS cache_backfill")
    return served.selectExpr(
        "inline(__reqs)",
        "__values AS `values`",
        "__mask AS is_default_mask",
        "__ages AS value_ages_ms",
        "__source AS source",
        f"coalesce(array_max(__ages) > {STALENESS_WARN_MS}, false) AS stale_warning",
        *extra,
    )


def batch_lookup(
    request_ids: DataFrame,
    table: DataFrame,
    key_cols: Sequence[str],
) -> DataFrame:
    """L2 batch MultiGet: broadcast the (small) request-id list;
    ``found`` marks misses so the caller can count the missing-id
    warning (OnlineServingService.java:141-143).

    Physical shape (review r10): Spark cannot broadcast the PRESERVED
    side of an outer join, so the old ``broadcast(ids) LEFT JOIN
    table`` silently dropped the hint and SHUFFLED the whole table on
    every lookup. Instead: an INNER broadcast join finds the hits
    (the table is scanned, never shuffled), the hit keys — a subset
    of the already-small id list — broadcast into an anti-join for
    the misses, and the two halves union. Two pruned scans of the big
    table, zero shuffles of it.

    Presence is a real marker, NOT a probe of a value column for
    NULL — a stored row whose value column is legitimately NULL is a
    HIT with a null value, not a miss. Duplicate keys in the table
    still fan out one output row per stored row, exactly like the
    old left join."""
    keys = list(key_cols)
    hits = table.join(F.broadcast(request_ids), keys, "inner").withColumn(
        "found", F.lit(True)
    )
    hit_keys = hits.select(*keys).distinct()
    misses = request_ids.join(
        F.broadcast(hit_keys), keys, "left_anti"
    ).withColumn("found", F.lit(False))
    return hits.unionByName(misses, allowMissingColumns=True)
