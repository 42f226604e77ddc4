package graft.index

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** External-key → docId map sidecar beside a [[BlockIndex]], enabling
  * REPLACE-BY-KEY (Lucene's `updateDocument(term, doc)` semantics) on an
  * engine whose core structures are docId-keyed and append-only: an
  * upsert tombstones the key's old docId and appends the new version at
  * a fresh id ([[graft.streaming.StreamOps.indexUpsertBatch]]).
  *
  * The map itself is append-only `kseg-*` segments of (key, docId) rows
  * under the house commit discipline (atomic meta rewrite, idempotent by
  * marker name). Liveness is DERIVED, not stored: a row is live iff the
  * block index currently answers for its docId
  * ([[BlockIndex.liveDocIds]] — committed AND not tombstoned). See
  * [[liveRows]] for why existence, not tombstones, is the correct test,
  * and how it also closes the in-flight-batch replay window.
  *
  * The reference has no update story at all (document.go's Save is
  * append-only); this is the capability a recrawl-at-scale pipeline
  * needs — re-fetched pages replace their previous versions while the
  * index stays continuously queryable.
  */
object KeyMap {

  val MetaName = "_keymap.json"

  final case class Meta(segs: Seq[String])

  def exists(dir: String): Boolean = MetaIO.exists(s"$dir/$MetaName")

  def readMeta(dir: String): Meta =
    if (!exists(dir)) Meta(Nil)
    else Meta(MetaIO.readMeta(s"$dir/$MetaName").strings("segs"))

  private def writeMeta(dir: String, m: Meta): Unit =
    MetaIO.writeMeta(s"$dir/$MetaName", Seq("nonce" -> System.nanoTime()),
      Seq("segs" -> m.segs))

  /** Commit one (key, docId) segment under `marker` — idempotent by
    * name: a replayed micro-batch that already committed is a no-op.
    */
  def commit(rows: DataFrame, dir: String, marker: String): Unit = {
    val gen = s"kseg-$marker"
    val meta = readMeta(dir)
    if (meta.segs.contains(gen)) return
    rows.select(col("key").cast("string").as("key"),
        col("docId").cast("long").as("docId"))
      .write.mode("overwrite").parquet(s"$dir/$gen")
    writeMeta(dir, Meta(meta.segs :+ gen))
  }

  /** Every committed (key, docId) row, including retired versions. */
  def rows(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    readMeta(dir).segs
      .map(seg => spark.read.parquet(s"$dir/$seg"))
      .reduceOption(_ union _)
      .getOrElse(Seq.empty[(String, Long)].toDF("key", "docId"))
  }

  /** Live (key, docId) rows: committed map rows whose docId the block
    * index currently ANSWERS FOR ([[BlockIndex.liveDocIds]]: present in
    * a committed segment and not tombstoned). Existence — not mere
    * not-tombstoned-ness — is the correct liveness test: compaction
    * folds deleted docs out physically and CLEARS the tombstones, which
    * would otherwise resurrect every retired row the keymap still
    * carries. Existence also closes the replay window for free: an
    * in-flight batch's kseg rows name docIds no committed segment holds
    * yet, so they stay invisible until the batch's block commit lands
    * (acting on them earlier would tombstone the batch's own versions).
    */
  def liveRows(spark: SparkSession, dir: String, blockDir: String): DataFrame =
    rows(spark, dir)
      .join(BlockIndex.liveDocIds(spark, blockDir), Seq("docId"), "left_semi")
      .select(col("key"), col("docId")) // the using-join reorders columns

  /** Live docIds for the given keys — the upsert's "what do I retire"
    * lookup and the delete-by-key resolution. `keys`: one `key` column.
    * Join order is the scale shape: the map rows are key-filtered FIRST
    * (small — the batch's keys × their version count), then the
    * existence check broadcasts that id set against the doc-length
    * metadata scan, so the big side is one docId-column metadata pass
    * and nothing wide ever shuffles.
    */
  def liveIdsForKeys(spark: SparkSession, dir: String, blockDir: String,
      keys: DataFrame): DataFrame = {
    val keyIds = rows(spark, dir)
      .join(broadcast(
        keys.select(col("key").cast("string").as("key")).distinct()),
        Seq("key"), "left_semi")
      .select(col("docId")).distinct()
    BlockIndex.liveDocIds(spark, blockDir)
      .join(broadcast(keyIds), Seq("docId"), "left_semi")
      .select(col("docId"))
  }

  /** Fold every segment into one, dropping retired rows (tombstoned in
    * the block index). Runs AFTER the block index's own compact so the
    * tombstones consulted are the full set; idempotent; readers see the
    * fold atomically via the meta rewrite. Rows above the committed
    * block maxDocId (in-flight batch) are preserved verbatim — folding
    * them away would lose the batch's map entries when its block commit
    * lands.
    */
  def compact(spark: SparkSession, dir: String, blockDir: String): Unit = {
    val meta = readMeta(dir)
    if (meta.segs.size <= 1) return
    val ceiling = BlockIndex.committedMaxDocId(spark, blockDir)
    val live = liveRows(spark, dir, blockDir)
      .union(rows(spark, dir).where(col("docId") > ceiling))
    // deterministic name (the house compact rule): a crash-then-retry
    // rewrites the same generation instead of leaking an orphan
    val gen = s"kseg-compact-$ceiling-${meta.segs.size}"
    live.write.mode("overwrite").parquet(s"$dir/$gen")
    writeMeta(dir, Meta(Seq(gen)))
    // sweep everything the new meta doesn't reference — the folded
    // segments and any orphan a killed earlier compact left behind
    MetaIO.list(dir)
      .filter(n => n.startsWith("kseg-") && n != gen)
      .foreach(n => MetaIO.deleteIfExists(s"$dir/$n", recursive = true))
  }
}
