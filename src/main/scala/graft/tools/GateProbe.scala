package graft.tools

import org.apache.spark.GraftCoreBridge
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.functions._

/** Phase-level attribution of the streaming gates' PER-BATCH CONSTANT
  * (round-13 verdict task #3 follow-up / stretch #9): the
  * delta-dimension row measured a ~5-10 s per-batch floor that
  * dominates every delta below ~20k docs — before attacking it
  * (plan caching, fewer jobs), MEASURE where it goes, on the REAL
  * execution path: [[graft.streaming.WinnowStream]] exposes a
  * phase hook that this tool installs, then drives actual streaming
  * batches (a 200-doc delta and an all-replay batch) against a
  * corpus-sized store. A Spark listener counts driver-coordinated
  * jobs per batch; the gap between the query wall and the time
  * covered by body phases (concurrent phases counted once) is the
  * streaming machinery itself (query start/stop, source listing,
  * checkpoint/offset-log writes).
  *
  * Usage: runMain graft.tools.GateProbe [sfDir] [workDir] [sections] [cores]
  */
object GateProbe {
  def main(args: Array[String]): Unit = {
    val dir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val work = if (args.length > 1) args(1) else "/tmp/graft_gate_probe"
    // optional args(2): comma-separated section names (winnow, xover,
    // scrub, wscrub) — default all
    val sections =
      if (args.length > 2) args(2).split(",").filter(_.nonEmpty).toSet
      else Set("winnow", "xover", "scrub", "wscrub")
    // escal: opt-in (runMain ... escal) — it rebuilds multi-x corpora
    // optional args(3): core count — e.g. 8 for the composed
    // saturation row (a bounded pool distinguishes CPU saturation
    // from pool serialization: solo walls must rise proportionally)
    val cores = if (args.length > 3) args(3).toInt else 32
    val spark = graft.GraftSession.local(cores)
    import spark.implicits._

    FsUtil.rm(work)

    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    })
    // (name, wall, end): a phase ends when its hook is called
    val phases = scala.collection.mutable.ArrayBuffer.empty[(String, Double, Long)]
    graft.streaming.GatePhase.hook = (n, t) => {
      val end = System.nanoTime()
      phases.synchronized { phases += ((n, t, end)); () }
    }

    def time[T](f: => T): (Double, T) = {
      val t0 = System.nanoTime()
      val r = f
      ((System.nanoTime() - t0) / 1e9, r)
    }
    def runGate(): Double = time {
      graft.streaming.WinnowStream.nearDupGateStream(
        spark.readStream.schema("doc_id LONG, text STRING").parquet(s"$work/in"),
        s"$work/store", s"$work/out", s"$work/ckpt", compactEvery = 100)
        .awaitTermination()
    }._1
    // codegen compiles (count, nanos) since the last mark(): a batch
    // that recompiles classes the JVM already compiled (a per-query
    // class loader) shows here as compiles that never fall batch over
    // batch
    def codegen(): (Long, Long) =
      (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)
    var cg0 = codegen()
    def mark(): Unit = {
      GraftCoreBridge.drainListenerBus(spark.sparkContext)
      jobs.set(0)
      cg0 = codegen()
    }
    def report(label: String, wall: Double): Unit = {
      GraftCoreBridge.drainListenerBus(spark.sparkContext)
      val ph = phases.synchronized { val v = phases.toVector; phases.clear(); v }
      // the union of the [end - wall, end] intervals: a probe phase
      // runs concurrently with the body's next phases, and its seconds
      // count once
      val body = ph.map { case (_, t, end) => (end - (t * 1e9).toLong, end) }
        .sortBy(_._1)
        .foldLeft((0L, Long.MinValue)) { case ((sum, reach), (s, e)) =>
          (sum + math.max(0L, e - math.max(s, reach)), math.max(reach, e))
        }._1 / 1e9
      val lines = ph.map { case (n, t, _) => f"$n=$t%.2f" }.mkString(" ")
      val (nc, tc) = codegen()
      println(f"[gate-probe] $label: wall=$wall%.2f s body=$body%.2f s " +
        f"machinery=${wall - body}%.2f s jobs=${jobs.getAndSet(0)} " +
        f"compiles=${nc - cg0._1} compile_s=${(tc - cg0._2) / 1e9}%.2f | $lines")
    }

    // the 200-doc delta: fresh ids over base content — the
    // delta-dimension row's smallest point, phase-attributed
    val delta = graft.Tables.load(spark, dir, "documents")
      .select($"doc_id", $"text").orderBy($"doc_id").limit(200)
      .select(($"doc_id" + lit(900000000L)).as("doc_id"), $"text")
      .localCheckpoint()

    if (sections("winnow")) {
      // batch 0: the corpus (store build — not the measurement target,
      // but printed: it is the fold-cost upper bound for this store)
      graft.Tables.load(spark, dir, "documents")
        .select($"doc_id", $"text")
        .write.mode("overwrite").parquet(s"$work/in")
      mark()
      report("corpus_batch", runGate())

      delta.write.mode("append").parquet(s"$work/in")
      mark()
      report("delta_200", runGate())

      // all-replay: the same 200 docs again — every doc absorbed by the
      // docs-probe anti-join, zero new fingerprints; what remains is the
      // floor a no-op trigger pays
      delta.write.mode("append").parquet(s"$work/in")
      mark()
      report("replay_200", runGate())

      // empty trigger: the stream restarts, finds no new files — pure
      // query start/stop + source listing, no batch body at all
      mark()
      report("no_data", runGate())
    }

    // ---- the scrub gate (4 sub-tables, per-batch snapshot): the same
    // corpus/delta/replay protocol — run with the 8x fixture dir as
    // args(0) to expose any corpus term (ScaleAudit scrub_gate found
    // the delta batch NOT corpus-flat before the lazy-snapshot fix)
    if (sections("scrub")) {
      def runScrub(): Double = time {
        graft.streaming.SegScrubStream.scrubStream(
          spark.readStream
            .schema("doc_id LONG, source STRING, text STRING")
            .parquet(s"$work/sin"),
          s"$work/sstore", s"$work/sout", s"$work/sckpt", compactEvery = 100)
          .awaitTermination()
      }._1
      graft.Tables.load(spark, dir, "documents")
        .select($"doc_id", $"source", $"text")
        .write.mode("overwrite").parquet(s"$work/sin")
      val sdelta = graft.Tables.load(spark, dir, "documents")
        .select($"doc_id", $"source", $"text").orderBy($"doc_id").limit(200)
        .select(($"doc_id" + lit(900000000L)).as("doc_id"), $"source", $"text")
        .localCheckpoint()
      mark()
      report("scrub_corpus", runScrub())
      sdelta.write.mode("append").parquet(s"$work/sin")
      mark()
      report("scrub_delta_200", runScrub())
      sdelta.write.mode("append").parquet(s"$work/sin")
      mark()
      report("scrub_replay_200", runScrub())
    }

    // ---- the winnowing scrub gate: same protocol, the same
    // ScrubGate over the winnow family
    if (sections("wscrub")) {
      def runWScrub(): Double = time {
        graft.streaming.WinnowScrubStream.winnowScrubStream(
          spark.readStream
            .schema("doc_id LONG, source STRING, text STRING")
            .parquet(s"$work/win"),
          s"$work/wstore", s"$work/wout", s"$work/wckpt", compactEvery = 100)
          .awaitTermination()
      }._1
      graft.Tables.load(spark, dir, "documents")
        .select($"doc_id", $"source", $"text")
        .write.mode("overwrite").parquet(s"$work/win")
      val wdelta = graft.Tables.load(spark, dir, "documents")
        .select($"doc_id", $"source", $"text").orderBy($"doc_id").limit(200)
        .select(($"doc_id" + lit(900000000L)).as("doc_id"), $"source", $"text")
        .localCheckpoint()
      mark()
      report("wscrub_corpus", runWScrub())
      wdelta.write.mode("append").parquet(s"$work/win")
      mark()
      report("wscrub_delta_200", runWScrub())
      wdelta.write.mode("append").parquet(s"$work/win")
      mark()
      report("wscrub_replay_200", runWScrub())
    }

    // ---- the IN-vs-broadcast crossover, isolated -----------------------
    // The delta batch's flags phase dominates its wall. probeFlags makes
    // two prunedScan accesses whose key sets are the batch's DISTINCT
    // fingerprints; if that count sits under maxPushKeys, pruneByKeys
    // builds an IN filter with that many LITERALS — whose analyzer/
    // optimizer cost is pure driver time. Measure the df-sub-table scan
    // count() under forced IN at several literal counts vs the forced
    // broadcast semi-join over the same key frame.
    if (sections("xover") && !sections("winnow"))
      println("[gate-probe] xover needs the winnow section's store " +
        "(the tool wipes workDir at startup) - skipping")
    if (sections("xover") && sections("winnow")) locally {
      import graft.streaming.SegStore
      val dfp = graft.operators.Dedup.winnowFp(
        delta.withColumn("doc_id", $"doc_id" + lit(50000000L)))
      val hs = dfp.select($"h").distinct().localCheckpoint()
      val nH = hs.count()
      println(s"[gate-probe] delta_200 fingerprints: rows=${dfp.count()} distinct_h=$nH")
      val tbl = SegStore.readBucketed(spark, s"$work/store", "df").get
      for (k <- Seq(1000L, 4000L, 8000L, 16000L, nH)) {
        val keys = hs.limit(k.toInt).collect().map(_.getLong(0)).toIndexedSeq
        val (tIn, nIn) = time(tbl.where($"h".isin(keys: _*)).count())
        println(f"[gate-probe] IN k=$k%6d scan_count wall=$tIn%.2f s rows=$nIn")
      }
      val (tB, nB) = time(
        tbl.join(broadcast(hs.select($"h")), Seq("h"), "left_semi").count())
      println(f"[gate-probe] BROADCAST k=$nH%6d scan_count wall=$tB%.2f s rows=$nB")
      // the production path (pruneByKeys = one InSet node, not |k|
      // literals) over the same key frame — and its pushdown, verified
      val pruned = graft.streaming.SegStore.prunedScan(
        spark, s"$work/store", "df", "h", hs)
      val (tS, nS) = time(pruned.count())
      val plan = pruned.queryExecution.executedPlan.toString
      val pushed = plan.linesIterator.find(_.contains("PushedFilters"))
        .map(_.trim.take(160)).getOrElse("<none>")
      println(f"[gate-probe] INSET k=$nH%6d scan_count wall=$tS%.2f s rows=$nS")
      println(s"[gate-probe] INSET pushdown: $pushed")
      // isolate WHERE the InSet scan's wall goes: (a) planning — build
      // the executedPlan without running; (b) first execution; (c)
      // repeat execution (same Dataset: codegen+plan cached); (d) same
      // filter with parquet pushdown disabled (post-scan InSet only)
      locally {
        val p2 = graft.streaming.SegStore.prunedScan(
          spark, s"$work/store", "df", "h", hs)
        val (tPlan, _) = time(p2.queryExecution.executedPlan)
        val (tRun1, _) = time(p2.count())
        val (tRun2, _) = time(p2.count())
        spark.conf.set("spark.sql.parquet.filterPushdown", "false")
        val p3 = graft.streaming.SegStore.prunedScan(
          spark, s"$work/store", "df", "h", hs)
        val (tNoPush, _) = time(p3.count())
        spark.conf.set("spark.sql.parquet.filterPushdown", "true")
        println(f"[gate-probe] INSET split: plan=$tPlan%.2f s run1=$tRun1%.2f s " +
          f"run2=$tRun2%.2f s nopush_run=$tNoPush%.2f s")
      }
      // size-dependence and catalog-vs-raw-path: the same InSet filter
      // at 1k vs 12k keys, over the catalog table vs a raw parquet read
      // of the same files — plan build and two executions each
      locally {
        import org.apache.spark.sql.GraftBridge
        import org.apache.spark.sql.catalyst.expressions.InSet
        val allKeys = hs.collect().map(_.getLong(0))
        val raw = spark.read.parquet(
          graft.streaming.SegStore.bucketedLoc(s"$work/store", "df"))
        for (k <- Seq(1000, allKeys.length)) {
          val set: Set[Any] = allKeys.take(k).map(x => x: Any).toSet
          def f(t: org.apache.spark.sql.DataFrame) = t.where(GraftBridge.column(
            InSet(GraftBridge.expression(col("h")), set)))
          for ((lbl, t) <- Seq(("catalog", tbl), ("raw", raw))) {
            val d = f(t)
            val (tp, _) = time(d.queryExecution.executedPlan)
            val (t1, _) = time(d.count())
            val (t2, _) = time(d.count())
            println(f"[gate-probe] cell k=$k%6d src=$lbl%-7s plan=$tp%.2f " +
              f"run1=$t1%.2f run2=$t2%.2f")
          }
        }
      }
    }

    // ---- probe-cost vs rows-per-bucket curve (escalation crossover) -----
    // The escal section measured the MANY-SMALL-FILES side of the
    // trade; this section walks bucket count over a FIXED large store
    // (32M rows, sorted by key) to locate where per-file row-group /
    // footer overhead starts charging the probe — the regime the
    // bytes-per-bucket escalation threshold exists for. Same probe
    // shape as the gates: pruned InSet scan of a 12k key set.
    if (sections("escurve")) {
      import graft.streaming.SegStore
      val R = 32000000L
      val keys = spark.range(12000)
        .select(($"id" * 2663L % R).as("h")).localCheckpoint()
      for (b <- Seq(2, 8, 32, 128)) {
        val root = s"$work/escurve_b$b/s"
        SegStore.ensureBucketed(spark, root, "df",
          "h BIGINT, df BIGINT", Seq("h"), b)
        val (tW, _) = time {
          SegStore.writeBucketed(spark, root, "df",
            spark.range(R).select($"id".as("h"), ($"id" % 17L).as("df")), 0L)
          SegStore.commit(spark, root, 0L, base = false)
        }
        val p = SegStore.prunedScan(spark, root, "df", "h", keys)
        val (t1, n) = time(p.count())
        val (t2, _) = time(p.count())
        val dir = new java.io.File(SegStore.bucketedPartPath(root, "df", 0L))
        val files = dir.listFiles().filter(_.getName.endsWith(".parquet"))
        println(f"[gate-probe] escurve B=$b%4d write=$tW%5.1f s " +
          f"files=${files.length}%4d avg_mb=${files.map(_.length).sum.toDouble / files.length / 1e6}%7.1f | " +
          f"probe run1=$t1%.2f run2=$t2%.2f rows=$n")
      }
    }

    // ---- composed three-gate overlap (round-15 VERDICT task #6) ---------
    // The q642-style composed pipeline proves correctness; this row
    // measures whether three gates sharing one JVM (and the shared
    // SegStore insert pool) SERIALIZE on their delta batches. Protocol:
    // per corpus scale, build three independent stores (winnow near-dup,
    // segment scrub, winnow scrub) from the same documents, then ship a
    // 200-doc delta to each and (a) run the three delta batches
    // back-to-back (solo sum), vs (b) run them CONCURRENTLY (three
    // streams started together). Composed ≈ max(solo) means full
    // overlap; composed ≈ sum(solo) means the shared pool serializes.
    if (sections("composed")) {
      val docs3 = graft.Tables.load(spark, dir, "documents")
        .select($"doc_id", $"source", $"text")
      def corpus3Of(mult: Int) = (0 until mult).map { c =>
        docs3.select(($"doc_id" + lit(c.toLong * 10000000L)).as("doc_id"),
          concat($"source", lit(s"_$c")).as("source"),
          concat_ws(" ", transform(split($"text", " "),
            w => concat(w, lit(s"_$c")))).as("text"))
      }.reduce(_ unionByName _)
      for (mult <- Seq(1, 8)) graft.Scope { sc =>
        val w = s"$work/composed_${mult}x"
        FsUtil.rm(w)
        val corpus = corpus3Of(mult)
        corpus.select($"doc_id", $"text")
          .write.mode("overwrite").parquet(s"$w/win_in")
        corpus.write.mode("overwrite").parquet(s"$w/scrub_in")
        corpus.write.mode("overwrite").parquet(s"$w/wscrub_in")
        def gateRuns(): Seq[() => org.apache.spark.sql.streaming.StreamingQuery] = Seq(
          () => graft.streaming.WinnowStream.nearDupGateStream(
            spark.readStream.schema("doc_id LONG, text STRING")
              .parquet(s"$w/win_in"),
            s"$w/win_store", s"$w/win_out", s"$w/win_ckpt",
            compactEvery = 100),
          () => graft.streaming.SegScrubStream.scrubStream(
            spark.readStream.schema("doc_id LONG, source STRING, text STRING")
              .parquet(s"$w/scrub_in"),
            s"$w/scrub_store", s"$w/scrub_out", s"$w/scrub_ckpt",
            compactEvery = 100),
          () => graft.streaming.WinnowScrubStream.winnowScrubStream(
            spark.readStream.schema("doc_id LONG, source STRING, text STRING")
              .parquet(s"$w/wscrub_in"),
            s"$w/wscrub_store", s"$w/wscrub_out", s"$w/wscrub_ckpt",
            compactEvery = 100))
        // corpus batches (store build — serial, not the measurement)
        gateRuns().foreach(start => start().awaitTermination())
        // WARM-UP delta, unmeasured: the solo pass otherwise runs
        // first in a fresh JVM and carries JIT/first-scan warmup —
        // the round-17 2x2 read ratios above the theoretical 3.0
        // (solo inflated), which is protocol noise, not gate cost.
        // One delta batch per gate warms codegen, parquet footers and
        // the insert pool before anything is timed.
        val dWarm = sc.ckpt(docs3.orderBy($"doc_id").limit(200)
          .select(($"doc_id" + lit(890000000L)).as("doc_id"), $"source",
            $"text"))
        dWarm.select($"doc_id", $"text")
          .write.mode("append").parquet(s"$w/win_in")
        dWarm.write.mode("append").parquet(s"$w/scrub_in")
        dWarm.write.mode("append").parquet(s"$w/wscrub_in")
        gateRuns().foreach(start => start().awaitTermination())
        // ship the SAME 200-doc delta to all three gates
        val d3 = sc.ckpt(docs3.orderBy($"doc_id").limit(200)
          .select(($"doc_id" + lit(900000000L)).as("doc_id"), $"source",
            $"text"))
        d3.select($"doc_id", $"text")
          .write.mode("append").parquet(s"$w/win_in")
        d3.write.mode("append").parquet(s"$w/scrub_in")
        d3.write.mode("append").parquet(s"$w/wscrub_in")
        // (a) solo: three delta batches back-to-back — but each gate
        // only sees ITS OWN pending delta, so run them in sequence
        // ... we need per-gate deltas twice (solo then composed): ship
        // a SECOND delta after the solo run for the composed pass
        val solo = gateRuns().map { start =>
          time(start().awaitTermination())._1
        }
        val d3b = sc.ckpt(docs3.orderBy($"doc_id").limit(200)
          .select(($"doc_id" + lit(910000000L)).as("doc_id"), $"source",
            $"text"))
        d3b.select($"doc_id", $"text")
          .write.mode("append").parquet(s"$w/win_in")
        d3b.write.mode("append").parquet(s"$w/scrub_in")
        d3b.write.mode("append").parquet(s"$w/wscrub_in")
        // (b) composed: start all three, then await all
        val (composedWall, _) = time {
          val qs = gateRuns().map(start => start())
          qs.foreach(_.awaitTermination())
        }
        println(f"[gate-probe] composed ${mult}x: solo=" +
          solo.map(s => f"$s%.2f").mkString("+") +
          f"=${solo.sum}%.2f s composed=$composedWall%.2f s " +
          f"overlap_ratio=${solo.sum / composedWall}%.2f " +
          "(1.0 = fully serialized, 3.0 = perfect overlap)")
      }
    }

    // ---- component-exact PPR refresh (round-15 VERDICT task #4) ---------
    // The exact graph gate used to full-push every changed batch; with
    // incrementally-maintained CC labels a no-new-seed delta re-pushes
    // only the touched components. Fixture: 8 node-shifted copies of
    // the sf pair graph (shift ≡ 0 mod 20 preserves parity and the
    // seed pattern) — a delta rewiring pairs INSIDE copy 0 touches
    // 1/8th of the graph, so the component batch should cost a
    // fraction of the new-seed (full re-push) batch on the same store.
    if (sections("ppr")) graft.Scope { sc =>
      import graft.operators.BipartiteGraph
      // drop phases accumulated by earlier sections (they don't report
      // through `report`, so the buffer may hold their batch bodies)
      phases.synchronized { phases.clear() }
      val w = s"$work/ppr"
      FsUtil.rm(w)
      val basePairs = sc.ckpt(BipartiteGraph.pairs(spark, dir))
      val copies = (0 until 8).map { cpy =>
        basePairs.select(($"c" + lit(cpy * 20000000L)).as("c"),
          ($"s" + lit(cpy * 20000000L)).as("s"))
      }.reduce(_ unionByName _)
      copies.write.mode("overwrite").parquet(s"$w/in")
      def runPpr(): Double = time {
        graft.streaming.GraphStream.pprPushStream(
          spark.readStream.schema("c LONG, s LONG").parquet(s"$w/in"),
          s"$w/store", s"$w/out", s"$w/ckpt", compactEvery = 100)
          .awaitTermination()
      }._1
      // per-publication on-disk bytes: the O(component)-write claim of
      // the overlay publication, measured (snapd_N should be a small
      // fraction of the full snap_0 it extends)
      def snapSizes(): String = {
        def du(f: java.io.File): Long =
          if (f.isFile) f.length()
          else Option(f.listFiles()).map(_.map(du).sum).getOrElse(0L)
        Option(new java.io.File(s"$w/out").listFiles())
          .getOrElse(Array.empty)
          .filter(f => f.isDirectory &&
            (f.getName.startsWith("snap_") || f.getName.startsWith("snapd_")))
          .sortBy(_.getName)
          .map(f => s"${f.getName}=${du(f)}B").mkString(" ")
      }
      mark()
      report("ppr_bootstrap_8copies", runPpr())
      println(s"[gate-probe] ppr snapshots after bootstrap: ${snapSizes()}")
      // no-new-seed delta: 200 rewired pairs among EXISTING copy-0
      // nodes (customer i paired with neighbor i+1's supplier), minus
      // any that already exist — the component path's common case
      val neigh = basePairs.orderBy($"c", $"s").limit(4001).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      val rewired = sc.ckpt(neigh.indices.dropRight(7).map { i =>
        (neigh(i)._1, neigh(i + 7)._2) // pair c_i with a FAR supplier
      }.distinct.toDF("c", "s")
        .except(basePairs).limit(200))
      println(s"[gate-probe] ppr component delta pairs: ${rewired.count()}")
      rewired.write.mode("append").parquet(s"$w/in")
      mark()
      report("ppr_component_delta", runPpr())
      println(s"[gate-probe] ppr snapshots after component delta: ${snapSizes()}")
      // reader-side cost of the overlay fold (base + 1 overlay) vs the
      // plain read a full pointer gets — the price readers pay for the
      // O(component) publication, bounded by compactEvery overlays
      locally {
        val r = graft.streaming.SegStore.readSnapshot(spark, s"$w/out").get
        val (t1, n) = time(r.count())
        val (t2, _) = time(r.count())
        println(f"[gate-probe] ppr overlay-fold read: rows=$n run1=$t1%.2f s run2=$t2%.2f s")
      }
      // new-seed delta on the same store: one never-seen seed-pattern
      // customer (20e9 % 20 == 0) — Total/nS moves, full re-push
      Seq((20000000000L, neigh.head._2)).toDF("c", "s")
        .write.mode("append").parquet(s"$w/in")
      mark()
      report("ppr_full_delta", runPpr())
    }

    // ---- bucket-count escalation (round-15 VERDICT task #2) -------------
    // The measured residual: a store that outgrows its creation-time
    // bucket count pays growing probe-scan cost (per-file row-group /
    // footer metadata tracks rows-per-bucket). Protocol: the same
    // winnow store built from a 1x corpus (8 buckets, right-sized) vs
    // an 8x corpus at the SAME 8 buckets (control — 8x bytes/bucket)
    // vs the 8x corpus with base-compaction escalation engaged
    // (bytes/bucket back at the 1x point). Probe = the production
    // prunedScan (InSet pushdown) of a 200-doc delta's fingerprint set
    // against fp + df, plan+run1+run2 each.
    if (sections("escal")) {
      import graft.streaming.SegStore
      val docsBase = graft.Tables.load(spark, dir, "documents")
        .select($"doc_id", $"text")
      def corpusOf(mult: Int) = (0 until mult).map { c =>
        docsBase.select(($"doc_id" + lit(c.toLong * 10000000L)).as("doc_id"),
          concat_ws(" ",
            transform(split($"text", " "),
              w => concat(w, lit(s"_$c")))).as("text"))
      }.reduce(_ unionByName _)
      def du(f: java.io.File): Long =
        if (f.isFile) f.length()
        else Option(f.listFiles()).map(_.map(du).sum).getOrElse(0L)
      for ((label, mult, escalate) <- Seq(
          ("1x_ctrl", 1, false), ("8x_ctrl", 8, false), ("8x_escal", 8, true))) {
        val w = s"$work/escal_$label"
        FsUtil.rm(w)
        corpusOf(mult).write.mode("overwrite").parquet(s"$w/in")
        def drive(): Unit =
          graft.streaming.WinnowStream.nearDupGateStream(
            spark.readStream.schema("doc_id LONG, text STRING")
              .parquet(s"$w/in"),
            s"$w/store", s"$w/out", s"$w/ckpt", compactEvery = 1)
            .awaitTermination()
        graft.Scope { sc =>
          drive() // batch 0: the corpus (delta segment, 8 buckets)
          // per-STORE threshold, recorded in each sub-table's spec
          // (the round-17 move off the old JVM-global knob): MaxValue
          // pins the ctrl rows un-escalated; the escal row sets it
          // below the store's bytes/bucket so the base escalates
          // (one doubling per compaction by policy)
          val thresh =
            if (escalate) {
              val fpBytes = du(new java.io.File(
                SegStore.bucketedLoc(s"$w/store", "fp")))
              math.max(1L, fpBytes / (8L * mult))
            } else Long.MaxValue
          SegStore.setEscalateThreshold(spark, s"$w/store", thresh)
          // batch 1: a 200-doc delta; compactEvery=1 makes it the BASE
          // fold — the escalation decision point
          delta.write.mode("append").parquet(s"$w/in")
          val (tBase, _) = time(drive())
          val fpPart = new java.io.File(
            SegStore.bucketedPartPath(s"$w/store", "fp", 1L))
          val bucketIds = Option(fpPart.listFiles()).getOrElse(Array.empty)
            .map(_.getName).filter(_.endsWith(".parquet"))
            .flatMap("_(\\d{5})".r.findFirstMatchIn(_).map(_.group(1).toInt))
            .toSet
          // the probe: a FRESH delta's fingerprint hash set against the
          // compacted store, production path (prunedScan InSet)
          val dfp = graft.operators.Dedup.winnowFp(
            delta.withColumn("doc_id", $"doc_id" + lit(50000000L)))
          val hs = sc.ckpt(dfp.select($"h").distinct())
          def probe(sub: String): (Double, Double, Long) = {
            val p = SegStore.prunedScan(spark, s"$w/store", sub, "h", hs)
            val (t1, n) = time(p.count())
            val (t2, _) = time(p.count())
            (t1, t2, n)
          }
          val (f1, f2, fn) = probe("fp")
          val (d1, d2, dn) = probe("df")
          println(f"[gate-probe] escal $label%-9s base_wall=$tBase%.2f s " +
            f"buckets=${bucketIds.size}%3d store_bytes=${du(new java.io.File(s"$w/store"))}%12d | " +
            f"probe_fp run1=$f1%.2f run2=$f2%.2f rows=$fn | " +
            f"probe_df run1=$d1%.2f run2=$d2%.2f rows=$dn")
        }
      }
    }

    graft.streaming.GatePhase.hook = (_, _) => ()
    spark.stop()
  }
}
