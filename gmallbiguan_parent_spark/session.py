"""SparkSession factory tuned for this engine.

Local testing runs on local[N]; the same settings are the ones we would
ship to a 1000-executor cluster: AQE on (runtime coalesce + skew-join
handling), broadcast threshold sized for dimension tables, shuffle
partitions right-sized rather than the 200 default, UTC session timezone
so results are bit-stable against the DuckDB oracle.
"""

from __future__ import annotations

import os
from collections import OrderedDict
from collections.abc import MutableMapping

from pyspark.sql import DataFrame, SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# Marker conf: set on every session get_spark() tunes, checked by
# io.load_table so it only re-applies tuning to FOREIGN sessions (the
# correctness driver's plain session) and never tramples an explicit
# get_spark(shuffle_partitions=N) choice.
TUNED_MARKER = "spark.gmallbiguan.tuned"


def runtime_confs(shuffle_partitions: int) -> tuple[tuple[str, str], ...]:
    """The runtime-settable SQL confs this engine wants on ANY session
    it runs on — single source of truth for session.py and io.py."""
    return (
        ("spark.sql.shuffle.partitions", str(shuffle_partitions)),
        ("spark.sql.adaptive.enabled", "true"),
        ("spark.sql.adaptive.coalescePartitions.enabled", "true"),
        ("spark.sql.adaptive.skewJoin.enabled", "true"),
        ("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)),
        ("spark.sql.session.timeZone", "UTC"),
        ("spark.sql.execution.arrow.pyspark.enabled", "true"),
        ("spark.sql.parquet.inferTimestampNTZ.enabled", "false"),
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
    )


def get_spark(app_name: str = "gmallbiguan_parent_spark",
              shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-aware defaults.

    The configs mirror what we would set cluster-side at 100 TB:
    - AQE enabled: runtime partition coalescing, skew-join splitting,
      broadcast-join demotion/promotion based on observed sizes.
    - autoBroadcastJoinThreshold 64m: every dim table in the reference
      (user/province/sku/spu/category/trademark — SURVEY.md §2.3 J3) is
      far below this, so dim enrichment is a map-side join, never a shuffle.
    - shuffle.partitions sized to cores locally; on a real cluster AQE
      coalesces from a deliberately high initial number.
    - UTC timezone: deterministic timestamps vs the oracle.
    """
    n = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder
        .master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # events.parquet stores TIMESTAMP(NANOS) which the vectorized
        # reader rejects; read as long and convert in io.load_table.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    spark = builder.getOrCreate()
    # getOrCreate() ignores builder configs when a session already exists
    # (the per-round driver hands us its own plain session), so re-apply
    # every runtime-settable SQL conf on the live session too.
    for k, v in runtime_confs(n) + ((TUNED_MARKER, "true"),):
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # conf not runtime-settable on this build — builder path covers it
    spark.sparkContext.setLogLevel("WARN")
    return spark


class SessionMemo(MutableMapping):
    """Session memo of intermediates that are pure functions of their
    key (a corpus path plus variant tags). lookup() is the one place
    the memo policy lives (DESIGN.md, "Session memos"):

    - keys are (applicationId, *key): checkpoints are context-bound;
    - a miss first drops every other application's entries and the
      ones `replaces(old_key)` names as superseded (old_key is given
      without the application);
    - a hit needs `valid(value)` and every checkpoint behind a
      DataFrame in the value (alone or in a tuple) still registered
      with the context; otherwise it is rebuilt once;
    - at most MAX_ENTRIES entries, least recently used first out.

    Dropping an entry drops the reference only and never unpersists: a
    DataFrame handed out earlier may still read those blocks."""

    MAX_ENTRIES = 8

    def __init__(self):
        self._entries = OrderedDict()  # key -> (value, checkpoint RDD ids)

    def __getitem__(self, key):
        return self._entries[key][0]

    def __setitem__(self, key, value):
        self._entries[key] = (value, ())

    def __delitem__(self, key):
        del self._entries[key]

    def __iter__(self):
        return iter(self._entries)

    def __len__(self):
        return len(self._entries)

    def lookup(self, spark: SparkSession, key: tuple, build, replaces=None, valid=None):
        sc = spark.sparkContext
        k = (sc.applicationId, *key)
        hit = self._entries.get(k)
        if hit is not None and (valid is None or valid(hit[0])) and _live(sc, hit[1]) == hit[1]:
            self._entries.move_to_end(k)
            return hit[0]
        for old in [o for o in self._entries
                    if o == k or o[0] != k[0] or (replaces and replaces(o[1:]))]:
            del self._entries[old]
        value = build()
        parts = value if isinstance(value, tuple) else (value,)
        plans = [p._jdf.queryExecution().analyzed() for p in parts if isinstance(p, DataFrame)]
        ids = [p.rdd().id() for p in plans if p.nodeName() == "LogicalRDD"]
        self._entries[k] = (value, _live(sc, ids))
        while len(self._entries) > self.MAX_ENTRIES:
            self._entries.popitem(last=False)
        return value


def _live(sc, rdd_ids) -> tuple[int, ...]:
    """The ids in rdd_ids still registered (persisted) with the context."""
    if not rdd_ids:
        return ()
    registered = sc._jsc.sc().getPersistentRDDs()
    return tuple(i for i in rdd_ids if registered.contains(i))
