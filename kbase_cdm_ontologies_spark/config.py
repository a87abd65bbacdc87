"""Engine-level runtime configuration helpers.

The package reads five Spark-conf keys, each a hybrid operator's row
bound for its driver path (0 forces the distributed loop; see
plans/regime.py for the routing):

    spark.graft.transitiveClosure.localThreshold        (default 100k)
    spark.graft.keyedTransitiveClosure.localThreshold   (default 20k)
    spark.graft.propertyClosure.localThreshold          (default 2M)
    spark.graft.unionElimination.localThreshold         (default 200k)
    spark.graft.deltaEntail.driverThreshold             (default 100k)

They reach the operators that ``entail()`` and ``entail_delta()`` call,
where no parameter does. Every other bound is a module constant:
``regime.DRIVER_MAX_BYTES``, ``canonicalize.CC_LOCAL_THRESHOLD``,
``closure.BATCH_THRESHOLD`` and ``BROADCAST_KEY_CAP``,
``delta_entail.CONE_KEY_CAP``, ``dedup.JACCARD_BROADCAST_SET_ROWS``,
``queries.SCAN_SPREAD_{MIN,MAX}_BYTES`` and
``normalize.CURIE_EXPR_MAX_PREFIXES``.

``session.get_spark`` reads the deployment environment:

    SPARK_GRAFT_MASTER            Spark master URL
    SPARK_GRAFT_CPUS              local[N] core count when no master is set
    SPARK_GRAFT_DRIVER_MEM        spark.driver.memory
    SPARK_GRAFT_WAREHOUSE         spark.sql.warehouse.dir
    SPARK_GRAFT_CONSTRAINT_PROP   spark.sql.constraintPropagation.enabled
    SPARK_GRAFT_CONF              extra "k=v;k=v" session conf
"""

from __future__ import annotations


def conf_threshold(df, key: str, default: int) -> int:
    """Read an integer threshold from the session conf, falling back to
    the operator's default when unset or empty. A value of 0 is a
    meaningful setting (it forces the distributed regime), so only
    None/empty fall through to the default. Accepts a DataFrame or a
    SparkSession."""
    spark = getattr(df, "sparkSession", df)
    conf = spark.conf.get(key, None)
    if conf is None or conf == "":
        return default
    return int(conf)
