package org.apache.spark

import org.apache.spark.internal.config.ConfigEntry

/** Test-only bridge to `private[spark]` internals: listener-bus draining,
  * so specs can deterministically count the jobs a code path launched (the
  * async listener bus otherwise races the assertion), and the registry of
  * Spark's config keys. */
object GraftTestBridge {
  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** Whether Spark registers a `ConfigEntry` for `key`. Entries register
    * when their holder object loads, so the holders of the keys the
    * engine sets are loaded first. */
  def isSparkConfKey(key: String): Boolean = {
    Seq(internal.config.SHUFFLE_COMPRESS, internal.config.UI.UI_ENABLED,
      sql.internal.SQLConf.SHUFFLE_PARTITIONS,
      sql.internal.StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES)
      .foreach(e => require(ConfigEntry.findEntry(e.key) eq e))
    ConfigEntry.findEntry(key) != null
  }
}
