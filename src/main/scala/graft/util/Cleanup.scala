package graft.util

/**
 * Recursive delete-on-exit for scratch directories this JVM created
 * (snapshot dirs, stream symlink dirs). `File.deleteOnExit` cannot do
 * this — it is non-recursive and silently no-ops on non-empty dirs.
 * [[localDir]] is the node-local base those directories go under.
 */
object Cleanup {
  private val created = java.util.Collections.synchronizedList(
    new java.util.ArrayList[String]())

  private lazy val hook: Unit = {
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      created.forEach { d =>
        try {
          val p = java.nio.file.Paths.get(d)
          if (java.nio.file.Files.exists(p)) {
            val walk = java.nio.file.Files.walk(p)
            try walk.sorted(java.util.Comparator.reverseOrder())
              .forEach(f => { java.nio.file.Files.deleteIfExists(f); () })
            finally walk.close()
          }
        } catch { case _: Throwable => () }
      }))
  }

  /** Register `dir` for recursive deletion when this JVM exits. */
  def onExitDelete(dir: String): Unit = { hook; created.add(dir); () }

  /** The node-local scratch base: `spark.local.dir`, else
   * `SPARK_LOCAL_DIRS`, else `java.io.tmpdir`. */
  def localDir(spark: org.apache.spark.sql.SparkSession): String =
    spark.conf.getOption("spark.local.dir")
      .orElse(sys.env.get("SPARK_LOCAL_DIRS"))
      .getOrElse(System.getProperty("java.io.tmpdir", "/tmp"))
}
