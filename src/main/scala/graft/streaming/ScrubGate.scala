package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.operators.Scrub

/** The df >= 3 boilerplate scrub AS A STREAM, for any
  * [[graft.operators.Scrub]] family: [[SegScrubStream]] runs it over
  * q191's segment grids, [[WinnowScrubStream]] over q192's winnowed
  * word grams. Each micro-batch of arriving documents is cut into unit
  * rows ONCE by the family's own derivation (the lambda the batch
  * query runs — one derivation site, no drifting copy), the unit rows
  * join the accumulated store, and the per-source readout published to
  * `outDir` is row-equal to the batch query over everything shipped,
  * at EVERY batch prefix (StreamingSpec pins this).
  *
  * Unlike WinnowStream's corpus-only df cap (q173's rule: a delta must
  * not retroactively reclassify corpus fingerprints), the boilerplate
  * rule here is df >= 3 over EVERYTHING SEEN SO FAR including the
  * current batch — a batch that delivers the 3rd copy of a unit makes
  * all three docs' units boilerplate, exactly as the batch query
  * would; that is what keeps the snapshot equal to it at every prefix.
  *
  * == Incremental readout ==
  *
  * A unit's boilerplate flag only ever flips ONCE (df grows
  * monotonically; the <3 → >=3 crossing is one-way), so per-doc
  * contributions are fold-once partials in bucketed sub-tables:
  *
  *  - the unit rows (`occ`/`sel`, unit-keyed — the flip probe) and
  *    per-unit df partials (`sdf`/`fdf`): the batch's units' PRIOR df
  *    comes from a pruned scan + fold, never a corpus-wide df fold;
  *  - `docs` (doc_id): replay absorption — re-delivered docs
  *    (at-least-once sources) are absorbed by a doc-id probe, so a
  *    replayed doc changes nothing;
  *  - `docstat` (doc_id, source, units, boilerplate units, one flag
  *    per grid): additive / max-foldable per-doc partials. A batch
  *    appends (a) one INSERT row per new doc, counted against the
  *    POST-batch df of its own units, and (b) one FLIP row per
  *    (pre-batch doc, newly-crossed unit) — from a pruned unit-row
  *    scan keyed on the (few) crossed units. A unit either was already
  *    >= 3 when the doc arrived (counted at insert, never flips again)
  *    or crosses later (counted at its one flip): never both;
  *  - `srcstat` (source, the readout's additive columns): the
  *    per-source state, maintained from the docstat delta plus the
  *    PRIOR flags of exactly the touched docs (a delta-sized pruned
  *    scan). A doc-level indicator moves by
  *    ind(greatest(prior, flags)) - ind(prior) — it can legitimately go
  *    negative (a straddle doc whose offset-0 flag catches up). The
  *    published snapshot folds the committed srcstat partials with the
  *    batch's delta: a |sources|-bounded aggregate, never a docstat
  *    scan.
  *
  * A LEGACY store (committed segments but no srcstat partition on the
  * newest one) backfills once: the source grain of the merged docstat
  * minus whatever srcstat partials exist, delta-sized forever after.
  * Every `compactEvery` batches the store folds into a base segment;
  * that batch materializes the merged docstat anyway, and its source
  * grain IS the total srcstat state. The deltas and the snapshot are
  * one segment under [[GateBatch.store]]'s protocol; the snapshot is
  * pointer-switched atomically ([[SegStore.writeSnapshot]]).
  */
private[graft] final class ScrubGate(fam: Scrub) {
  import fam.{key, dupUnits, flags}

  /** The store layout: (sub-table, column DDL, bucket key). */
  private val tables: Seq[(String, String, String)] = {
    def ddl(cs: Seq[String]): String = cs.map { c =>
      s"$c ${if (c == key || c == "source") "STRING" else "BIGINT"}"
    }.mkString(", ")
    Seq((fam.unitsSub, ddl(fam.unitCols), key),
      (fam.dfSub, ddl(Seq(key, "df")), key),
      ("docs", ddl(Seq("doc_id")), "doc_id"),
      ("docstat", ddl(Seq("doc_id", "source") ++ fam.docCols), "doc_id"),
      ("srcstat", ddl("source" +: fam.srcCols), "source"))
  }

  /** The active view of `sub`; empty before the first commit. */
  private def read(ss: SparkSession, storeDir: String, sub: String): DataFrame =
    SegStore.readBucketed(ss, storeDir, sub).getOrElse {
      val ddl = tables.collectFirst { case (`sub`, d, _) => d }.get
      ss.createDataFrame(java.util.Collections.emptyList[Row](), StructType.fromDDL(ddl))
    }

  /** `docs`: a streaming DataFrame of (doc_id: Long, source: String,
    * text: String). Store: a [[SegStore]] log at `storeDir`; the
    * family's readout is published atomically under `outDir` (read it
    * back with [[SegStore.readSnapshot]]).
    */
  def stream(docs: DataFrame, storeDir: String, outDir: String,
      ckptDir: String, compactEvery: Int, buckets: Int): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", ckptDir)
      .foreachBatch(GateBatch.store(docs.sparkSession, storeDir, ckptDir,
          compactEvery) { b =>
          import b.{ss, scope => ck}
          import GatePhase.phased
          phased("declare") {
            tables.foreach { case (sub, ddl, k) =>
              SegStore.ensureBucketed(ss, storeDir, sub, ddl, Seq(k), buckets)
            }
          }
          val bUnits = phased("segment") {
            ck.ckpt(fam.derive(b.frame.dropDuplicates("doc_id")))
          }
          // PRIOR per-unit df, probed by the PRE-absorb unit set (a
          // superset of the post-absorb one whose extras the newDf
          // join drops) so the store scan runs CONCURRENT with the
          // absorb probe
          val fPrior = b.probe {
            phased("dfprior") {
              ck.ckpt(SegStore.prunedScan(ss, storeDir, fam.dfSub, key,
                  bUnits.select(key).distinct())
                .groupBy(key).agg(sum("df").as("df_prior")))
            }
          }
          // replay absorption: seen doc ids from a pruned scan,
          // survivors anti-join the <= batch-sized hit set broadcast
          val newUnits = phased("absorb") {
            val seen = SegStore.prunedScan(ss, storeDir, "docs", "doc_id",
              bUnits.select("doc_id").distinct())
            ck.ckpt(bUnits.join(broadcast(seen), Seq("doc_id"), "left_anti")
              .select(fam.unitCols.map(col): _*))
          }
          val newDocs = newUnits.select("doc_id").distinct()
          val newDf = newUnits.groupBy(key).agg(count(lit(1)).as("df"))
          // batch-unit-sized; feeds inserts AND flips
          val post = phased("dfpost") {
            val prior = fPrior()
            try ck.ckpt(newDf.join(prior, Seq(key), "left_outer")
              .select(col(key), col("df").as("df_delta"),
                coalesce(col("df_prior"), lit(0L)).as("df_prior"))
              .withColumn("df_post", col("df_prior") + col("df_delta")))
            finally ck.release(prior)
          }
          // (a) INSERT rows: batch docs against the POST-batch df of
          // their own units; (b) FLIP rows: pre-batch docs holding a
          // unit that crossed this batch (the pruned scan reads the
          // committed store only, so batch docs are not re-counted)
          val inserts = fam.docStats(
            newUnits.join(broadcast(post.select(col(key), col("df_post"))), key),
            col("df_post"))
          val flipped = post
            .where(!fam.dup(col("df_prior")) && fam.dup(col("df_post")))
            .select(key)
          val flipRows = fam.flipStats(
            SegStore.prunedScan(ss, storeDir, fam.unitsSub, key, flipped))
          val statDelta = phased("statdelta") {
            ck.ckpt(inserts.unionByName(flipRows))
          }
          val base = b.compactDue
          val legacy = b.active.nonEmpty &&
            !SegStore.partitionExists(ss, storeDir, "srcstat", b.active.last.id)
          // delta batches only — a compaction batch derives the total
          // source grain from its already-materialized merged docstat
          def srcDelta() = phased("srcdelta") {
            ck.ckpt(if (legacy) {
              val committed = read(ss, storeDir, "srcstat")
              sumBySource(fam.srcGrain(mergedDocstat(ss, storeDir, statDelta))
                .unionByName(committed.select(col("source") +:
                  fam.srcCols.map(c => (-col(c)).as(c)): _*)))
            } else {
              val dd = docGrain(statDelta)
              val pr = docGrain(SegStore.prunedScan(ss, storeDir, "docstat",
                "doc_id", dd.select("doc_id")))
                .select(col("doc_id") +: lit(1L).as("ex") +:
                  flags.map(f => col(f).as(s"p_$f")): _*)
              // an absent prior reads as all-zero flags, on which every
              // indicator is 0
              val prior = (f: String) => coalesce(col(s"p_$f"), lit(0L))
              dd.join(pr, Seq("doc_id"), "left_outer")
                .groupBy("source")
                .agg(sum(lit(1L) - coalesce(col("ex"), lit(0L))).as("n_docs"),
                  sum(fam.units).as(s"n_${fam.units}") +:
                    sum(dupUnits).as(dupUnits) +:
                    fam.indicators.map { case (n, ind) =>
                      sum(ind(f => greatest(prior(f), col(f))) - ind(prior)).as(n)
                    }: _*)
            })
          }
          if (base) {
            val unitsAll = ck.ckpt(read(ss, storeDir, fam.unitsSub).union(newUnits))
            val dfAll = ck.ckpt(read(ss, storeDir, fam.dfSub).union(newDf)
              .groupBy(key).agg(sum("df").as("df")))
            val docsAll = ck.ckpt(read(ss, storeDir, "docs").union(newDocs))
            // `merged` IS the folded docstat — the compaction reuses
            // it, and its source grain IS the total srcstat state
            val merged = ck.ckpt(mergedDocstat(ss, storeDir, statDelta))
            val srcAll = ck.ckpt(fam.srcGrain(merged))
            SegStore.writeBucketedAll(ss, storeDir,
              Seq(fam.unitsSub -> unitsAll, fam.dfSub -> dfAll, "docs" -> docsAll,
                "docstat" -> merged, "srcstat" -> srcAll), b.id,
              base = true)
            SegStore.writeSnapshot(ss, outDir, fam.readout(srcAll), b.id)
          } else {
            // the four srcDelta-independent segment writes start FIRST
            // and overlap srcDelta's prior-flag probe + the publish
            b.write(Seq(fam.unitsSub -> newUnits, fam.dfSub -> newDf,
              "docs" -> newDocs, "docstat" -> statDelta))
            val sd = srcDelta()
            b.write(Seq("srcstat" -> sd))
            // the uncommitted partitions are invisible to the read
            phased("snapshot") {
              SegStore.writeSnapshot(ss, outDir,
                fam.readout(snapshotFold(ss, storeDir, sd)), b.id)
            }
          }
          base
      })
      .trigger(Trigger.AvailableNow())
      .start()

  /** Doc-grain fold of docstat partials: sums for the unit counts, max
    * for the one-way flags. `source` is functionally dependent on
    * doc_id, so grouping on doc_id alone keeps the fold exchange-free
    * over the doc_id-bucketed store scan.
    */
  private def docGrain(d: DataFrame): DataFrame =
    d.groupBy("doc_id").agg(max("source").as("source"),
      sum(fam.units).as(fam.units) +: sum(dupUnits).as(dupUnits) +:
        flags.map(f => max(f).as(f)): _*)

  /** The post-batch doc-grain view: committed docstat folded
    * (exchange-free) outer-joined with the batch's delta fold on
    * doc_id (the store side is bucketed on doc_id — only the
    * delta-sized side shuffles). Columns match the docstat layout so
    * compaction can write it back verbatim.
    */
  private def mergedDocstat(ss: SparkSession, storeDir: String,
      statDelta: DataFrame): DataFrame = {
    def side(d: DataFrame, p: String): DataFrame =
      docGrain(d).select(col("doc_id") +:
        ("source" +: fam.docCols).map(c => col(c).as(p + c)): _*)
    def both(c: String): (Column, Column) =
      (coalesce(col(s"s_$c"), lit(0L)), coalesce(col(s"d_$c"), lit(0L)))
    side(read(ss, storeDir, "docstat"), "s_")
      .join(side(statDelta, "d_"), Seq("doc_id"), "full_outer")
      .select(col("doc_id") +:
        coalesce(col("s_source"), col("d_source")).as("source") +:
        (Seq(fam.units, dupUnits).map { c => val (s, d) = both(c); (s + d).as(c) } ++
          flags.map { c => val (s, d) = both(c); greatest(s, d).as(c) }): _*)
  }

  private def sumBySource(d: DataFrame): DataFrame =
    d.groupBy("source").agg(sum(fam.srcCols.head).as(fam.srcCols.head),
      fam.srcCols.tail.map(c => sum(c).as(c)): _*)

  /** The post-batch source-grain state: committed `srcstat` partials
    * plus this batch's delta, folded — a |sources|-bounded aggregate
    * over an exchange-free bucketed scan, never a docstat scan.
    */
  def snapshotFold(ss: SparkSession, storeDir: String, srcDelta: DataFrame): DataFrame =
    sumBySource(read(ss, storeDir, "srcstat").unionByName(srcDelta))

  /** The accumulated unit rows (partition-pruned scan of the active
    * segments; rows are per-(unit, doc) distinct by the probe
    * discipline). Empty when no segment has committed yet.
    */
  def readUnits(ss: SparkSession, storeDir: String): DataFrame =
    read(ss, storeDir, fam.unitsSub)
}
