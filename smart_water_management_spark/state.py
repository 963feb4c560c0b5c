"""One owner for session-scoped state.

Everything the engine builds once and reuses across one session's
repeated queries lives in that session's store, so it has one lifetime
and one eviction path:

- the **memo**: analyzed scans, the dashboard's prepared statements,
  fitted models and footer probes — one LRU of ``MEMO_MAX`` entries;
- the **pins**: persisted derived frames — one LRU under one byte
  budget, metered on the cached RDDs the store owns.

Stores are keyed by ``applicationId`` (unique per SparkContext, unlike a
reusable ``id()``). A stopped session's whole store is dropped the next
time any session touches this module; its persisted blocks died with its
context. Lookups, memo hits and pin hits make no JVM call.
"""

from __future__ import annotations

from collections import OrderedDict
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

MEMO_MAX = 512


@dataclass
class _Store:
    spark: SparkSession
    memo: OrderedDict = field(default_factory=OrderedDict)
    pins: "OrderedDict[object, DataFrame]" = field(default_factory=OrderedDict)
    # pin key -> id of its cached RDD, recorded once the pin is materialized
    pin_rdds: dict = field(default_factory=dict)


_STORES: dict[str, _Store] = {}


def session_key(spark: SparkSession) -> str:
    return spark.sparkContext.applicationId


def session_is_stopped(spark: SparkSession) -> bool:
    try:
        return spark.sparkContext._jsc is None
    except Exception:
        return True


def store(spark: SparkSession) -> _Store:
    """The session's store, created on first use. Drops stopped sessions'
    stores on the way."""
    sc = spark.sparkContext
    found = None
    for key, st in list(_STORES.items()):
        if st.spark.sparkContext is sc:
            found = st
        elif session_is_stopped(st.spark):
            del _STORES[key]
    if found is None:
        found = _STORES[session_key(spark)] = _Store(spark)
    return found


def memo(spark: SparkSession, key, build):
    """``build()`` once per (session, key); LRU-bounded at ``MEMO_MAX``."""
    m = store(spark).memo
    if key in m:
        m.move_to_end(key)
        return m[key]
    value = build()
    m[key] = value
    while len(m) > MEMO_MAX:
        m.popitem(last=False)
    return value


def pin(spark: SparkSession, key, build, storage_level=None) -> DataFrame:
    """Persist ``build()`` once per (session, key) and return the pinned
    frame. Default level is ``persist()``'s MEMORY_AND_DISK, which spills
    instead of OOMing when a pin outgrows memory. Each new pin enforces the
    budget, evicting least-recently-used pins other than itself; eviction
    is safe because a pin is a pure function of its inputs, so consumers
    recompute it on next use."""
    st = store(spark)
    if key in st.pins:
        st.pins.move_to_end(key)
        return st.pins[key]
    df = build()
    st.pins[key] = df.persist(storage_level) if storage_level else df.persist()
    _enforce_pin_budget(spark, st, keep=key)
    return st.pins[key]


def clear(spark: SparkSession) -> None:
    """Unpersist every pin and forget every memo entry of the session.

    Needed before plan inspection: Spark's CacheManager substitutes an
    InMemoryRelation into any plan matching a cached fragment, and a
    memoized scan keeps serving a resolved file listing after its
    directory is rewritten."""
    st = store(spark)
    for df in st.pins.values():
        df.unpersist()
    st.pins.clear()
    st.pin_rdds.clear()
    st.memo.clear()


def _pin_budget_bytes(spark: SparkSession) -> int:
    """Total max storage memory of the block managers (the unified
    memory region's share available for caching)."""
    status = spark.sparkContext._jsc.sc().getExecutorMemoryStatus()
    it = status.valuesIterator()
    total = 0
    while it.hasNext():
        total += it.next()._1()
    return total


def _pin_rdd_id(spark: SparkSession, df: DataFrame) -> int | None:
    """Id of the RDD holding ``df``'s cached blocks, or None until the
    cache is fully materialized (asking earlier would build the cached
    plan, which under AQE runs its shuffle stages)."""
    cached = spark._jsparkSession.sharedState().cacheManager().lookupCachedData(df._jdf)
    if cached.isEmpty():
        return None
    builder = cached.get().cachedRepresentation().cacheBuilder()
    if not builder.isCachedColumnBuffersLoaded():
        return None
    return builder.cachedColumnBuffers().id()


def _enforce_pin_budget(spark: SparkSession, st: _Store, keep) -> None:
    budget = _pin_budget_bytes(spark)
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    size = {i.id(): i.memSize() + i.diskSize() for i in infos}
    if sum(size.values()) <= budget:
        return  # even the whole context fits
    for key, df in st.pins.items():
        if key not in st.pin_rdds:
            rdd_id = _pin_rdd_id(spark, df)
            if rdd_id is not None:
                st.pin_rdds[key] = rdd_id
    owned = sum(size.get(i, 0) for i in set(st.pin_rdds.values()))
    for victim in [k for k in st.pins if k != keep]:
        if owned <= budget:
            break
        owned -= size.get(st.pin_rdds.pop(victim, None), 0)
        st.pins.pop(victim).unpersist(blocking=True)
