package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft session is built and reset. Every main entry
  * point and every spec gets its session from [[local]]; a caller that
  * needs other runtime SQL confs sets them on the returned session (or
  * on `newSession()`, which shares the context and the extensions).
  */
object GraftSession {

  /** A local graft session on `cores` threads with `cores` shuffle
    * partitions, UTC and the UI off, with [[GraftExtensions]] (planner
    * strategy, parser, AS-OF rules, SQL functions) installed.
    *
    * `create()`, not `getOrCreate()`: getOrCreate hands back the
    * thread's active or the JVM's default session when there is one,
    * and silently drops the extensions when that session is a stock
    * one. `create()` always builds a new session, on the existing
    * context or a new one; it becomes the default and active session
    * only where there is none yet.
    */
  def local(cores: Int): SparkSession = {
    val dir = localDir
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Shuffle cleanup is async by default: the ContextCleaner fires
      // remove RPCs and returns, so across a 190-query session the
      // driver keeps timing query N while the block manager is still
      // unlinking query N-1's shuffle files — q134 measured 13.4 s
      // in-session vs 3.59 s isolated from exactly this backlog.
      // Blocking cleanup moves that wait into the gap between queries
      // ([[reset]]) where it belongs.
      .config("spark.cleaner.referenceTracking.blocking.shuffle", "true")
      // Shuffle files + block-manager disk store on tmpfs when the
      // box has one: with local.dir on the VM's virtio disk, each
      // heavy query's shuffle writes dirty the page cache and the
      // per-query cleanup deletes thousands of files — both contend
      // with the NEXT query's parquet reads on the same device, which
      // measured as random 10-40 s stalls inside otherwise-quiet
      // timed regions (no GC events). A cluster's NVMe-backed
      // local dirs don't have this failure mode; tmpfs is the
      // local-mode stand-in.
      .config("spark.local.dir", dir)
      // Managed tables (the specs' bucketed tables, the IVF and band
      // indexes) live with this JVM's local dir, not in a
      // ./spark-warehouse under whatever directory the JVM started
      // in; the catalog is in-memory, so they are session-scoped anyway.
      .config("spark.sql.warehouse.dir",
        new java.io.File(dir, "warehouse").getAbsolutePath)
      // The live status store retains 1000 executions / 1000 jobs /
      // 100k tasks of history even with the UI off; 150 queries into
      // a session that's a steadily growing in-memory KV store every
      // task completion updates — measured as a consistent ~1 s
      // in-session surcharge on stage-heavy queries (q188:
      // 2.76/2.37/2.20 s draws vs 1.29 isolated). Nothing reads that
      // history; keep only a screenful.
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .config("spark.ui.retainedTasks", "2000")
      .config("spark.sql.ui.retainedExecutions", "20")
      .withExtensions(new GraftExtensions)
      .create()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Restore the session to a pre-query state: drop every SQL-cached
    * plan, synchronously release every block-holding RDD (persists AND
    * localCheckpoints — the latter never enter the SQL cache manager,
    * so `clearCache` alone misses them), and run two synchronous GCs
    * so the ContextCleaner's weak-ref queue drains NOW, in the untimed
    * gap, instead of during the next query's timed region. The first
    * GC enqueues the weak refs; the second collects objects the first
    * pass's finalization resurrected. BenchHygieneSpec pins that this
    * routine leaves zero persistent RDDs and an empty SQL cache.
    */
  def reset(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    System.gc()
    System.gc()
  }

  /** Spark local dir: `SPARK_GRAFT_LOCAL_DIR` when set (the operator
    * override — e.g. redirect to disk when tmpfs is too small for a
    * bigger SF), else tmpfs when available (see [[local]]), else the
    * JVM temp dir. Each JVM gets its own PER-PID subdirectory — two
    * JVMs on one host must never delete each other's live shuffle
    * files. Stale SIBLING dirs are swept only when their owning
    * process is gone (/proc/<pid> absent): a killed prior run leaves
    * shuffle files behind, and on tmpfs leftovers silently consume RAM
    * for the life of the box.
    */
  private[graft] def localDir: String = sys.env.getOrElse("SPARK_GRAFT_LOCAL_DIR", {
    val shm = new java.io.File("/dev/shm")
    if (shm.isDirectory && shm.canWrite) {
      def rm(f: java.io.File): Unit = graft.tools.FsUtil.rm(f.getPath)
      val pool = new java.io.File(shm, "graft-bench-local")
      val pid = ProcessHandle.current().pid()
      Option(pool.listFiles()).foreach(_.foreach { sib =>
        val owner = sib.getName
        if (owner.forall(_.isDigit) && owner.nonEmpty && owner.toLong != pid
            && !new java.io.File(s"/proc/$owner").exists())
          rm(sib)
      })
      // pre-pid legacy layout: shuffle dirs directly under the pool
      // root belong to no live tracking scheme — sweep them too
      Option(pool.listFiles()).foreach(_.foreach { f =>
        if (!f.getName.forall(_.isDigit)) rm(f)
      })
      new java.io.File(pool, pid.toString).getPath
    } else System.getProperty("java.io.tmpdir")
  })
}
