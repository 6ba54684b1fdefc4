package lakebench

import graft.catalog.{Compaction, FileStats, Retention}
import graft.functions.expressions.HashExpressions
import graft.operators.{Ann, Privacy}
import graft.streaming.{BatchCommitLog, StreamingOps}
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** `curation_daily_ops`: the daily curation chain on document and embedding
  * batches against a stored corpus: DQ gate → dedup gate → ANN gate →
  * batch consolidation and a FileStats refresh of the corpus → forget-me
  * deletes (stats-pruned on the corpus) → DP counts. Each step is one day.
  * The set-up ingests the day-0 corpus through the three gates,
  * consolidates it and builds its index. */
final class CurationDailyOps(env: Env, ns: String) extends Instance {
  private val spark = env.spark
  import spark.implicits._
  private val gen = new DocGen(env.o.seed, env.inputDir.resolve(s"docs_$ns"),
    CurationDailyOps.DocsPerDay, CurationDailyOps.CorpusDocs)
  private val db = s"w2_$ns"
  private val work = env.workDir.resolve(s"w2_$ns")
  private val docsSrc = env.inputDir.resolve(s"docs_$ns/docs").toString
  private val embSrc = env.inputDir.resolve(s"docs_$ns/emb").toString
  private val stageDir = work.resolve("stage").toString
  private def ck(name: String) = work.resolve(s"ck_$name").toString
  private val centroids = HashExpressions.fixedCentroids(100, 16, 64)
  private val codebooks = {
    val fc = HashExpressions.fixedCentroids(200, 128, 8)
    Array.tabulate(8)(j => fc.slice(j * 16, j * 16 + 16))
  }
  private val docSchema = "doc_id BIGINT, grp INT, lang STRING, n_chars INT, text STRING"
  private val embSchema = "vec_id BIGINT, embedding ARRAY<DOUBLE>"
  private val statsSpec = FileStats.StatsSpec(Seq("doc_id"), bloomCols = Seq("doc_id"),
    bloomBits = 1 << 16)
  private val probe = new CatalogProbe(spark)

  // ground truth accumulated over the days ingested so far
  private val truths = mutable.ArrayBuffer.empty[DocDayTruth]
  private val corpusLang = mutable.LinkedHashMap.empty[Long, String]
  private val embIds = mutable.LinkedHashSet.empty[Long]
  private val forgotten = mutable.LinkedHashSet.empty[Long]
  private var fedBytes = 0L
  private var lastDpGroups = -1L

  def tracedSteps: Int = 1

  private var corpus: DocDay = _

  def prepare(): Unit = corpus = gen.day(0)

  private def t(name: String) = s"$db.$name"

  /** The three gates plus consolidation; one day's ingest. */
  private def ingest(r: Runner, d: DocDay): Boolean = {
    val dq = r.op("dq_gate", "streaming.ingestDqGate", d.truth.docs, d.bytes) {
      StreamingOps.ingestDqGate(
        spark.readStream.schema(docSchema).option("maxFilesPerTrigger", 1).json(docsSrc),
        Seq("ColumnValues 'n_chars' >= 200"), t("cleansed"), t("quarantine"), ck("dq"),
        availableNow = true).awaitTermination()
      spark.catalog.refreshTable(t("cleansed"))
      spark.catalog.refreshTable(t("quarantine"))
    }
    val staged = dq.flatMap(_ => r.op("stage", "streaming.stage") {
      val id = BatchCommitLog.committed(spark, ck("dq")).get
      spark.table(t("cleansed")).filter(col("batch_id") === id)
        .select("doc_id", "grp", "text").coalesce(1)
        .write.mode("append").parquet(stageDir)
    })
    val deduped = staged.flatMap(_ => r.op("dedup_gate", "dedup.ingestDedupGate") {
      StreamingOps.ingestDedupGate(
        spark.readStream.schema("doc_id BIGINT, grp INT, text STRING")
          .option("maxFilesPerTrigger", 1).parquet(stageDir),
        "text", "doc_id", Seq("grp"), threshold = 0.8, t("corpus"), t("report"), ck("dd"),
        availableNow = true).awaitTermination()
      spark.catalog.refreshTable(t("corpus"))
      spark.catalog.refreshTable(t("report"))
    })
    val annOk = r.op("ann_gate", "ann.ingestAnnGate") {
      StreamingOps.ingestAnnGate(
        spark.readStream.schema(embSchema).option("maxFilesPerTrigger", 1).json(embSrc),
        "embedding", "vec_id", centroids, codebooks, t("annidx"), ck("ann"),
        availableNow = true).awaitTermination()
      spark.catalog.refreshTable(t("annidx"))
    }
    val consolidated = deduped.flatMap(_ => annOk).flatMap(_ =>
      probe.rewrite(r, Seq(t("corpus"), t("annidx")))(r.op("consolidate", "catalog.consolidateBatches") {
        Compaction.consolidateBatches(spark, t("corpus"),
          BatchCommitLog.committed(spark, ck("dd")).get, Seq("doc_id"))
        Compaction.consolidateBatches(spark, t("annidx"),
          BatchCommitLog.committed(spark, ck("ann")).get, Seq("vec_id"))
        spark.catalog.refreshTable(t("corpus"))
        spark.catalog.refreshTable(t("annidx"))
      })).flatMap(_ => r.op("refresh", "catalog.refresh")(
        FileStats.refresh(spark, t("corpus"), t("corpus_stats"), statsSpec)))
    truths += d.truth
    d.truth.kept.zip(d.truth.keptLangs).foreach { case (id, l) => corpusLang(id) = l }
    embIds ++= d.embIds
    fedBytes += d.bytes
    consolidated.nonEmpty
  }

  def setup(): Unit = {
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db")
    val r = new Runner(None)
    ingest(r, corpus)
    require(r.failed == 0, "curation set-up failed")
  }

  def step(r: Runner, i: Int): Unit = {
    val d = gen.day(i + 1)
    r.step("day") {
      if (ingest(r, d)) {
        if (d.truth.forget.nonEmpty) {
          val tables = Seq(t("corpus"), t("report"), t("annidx"))
          probe.read(r, t("corpus"))(probe.rewrite(r, tables)(r.op("forget", "catalog.deleteRowsAll") {
            val keys = d.truth.forget.toDF("doc_id")
            Retention.deleteRowsAll(spark, keys, Seq(
              Retention.DeleteTarget(t("corpus"), "doc_id", Some(t("corpus_stats"))),
              Retention.DeleteTarget(t("report"), "doc_id")))
            Retention.deleteRowsAll(spark, keys.toDF("vec_id"),
              Seq(Retention.DeleteTarget(t("annidx"), "vec_id")))
          })).foreach { _ =>
            forgotten ++= d.truth.forget
            d.truth.forget.foreach(corpusLang.remove)
          }
        }
        r.op("dp", "privacy.dpCounts") {
          Privacy.dpCounts(spark.table(t("corpus")).select("doc_id")
              .join(spark.table(t("cleansed")).select("doc_id", "lang"), Seq("doc_id")),
            Seq("lang"), epsilon = 0.5, seed = s"day${d.index}").collect()
        }.foreach(rows => lastDpGroups = rows.length.toLong)
      }
    }
  }

  def verify(r: Runner): Unit = {
    val q = spark.table(t("quarantine")).count()
    r.check("quarantined short docs", q == truths.map(_.short).sum, s"$q vs ${truths.map(_.short).sum}")
    val status = spark.table(t("report")).groupBy("status").count().collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    val want = Map("kept" -> (truths.map(_.kept.size.toLong).sum - forgotten.size),
      "dup_in_batch" -> truths.map(_.dupInBatch.toLong).sum,
      "dup_of_stored" -> truths.map(_.dupOfStored.toLong).sum).filter(_._2 > 0)
    r.check("dedup report statuses", status == want, s"$status vs $want")
    val corpus = spark.table(t("corpus")).select("doc_id").as[Long].collect().toSet
    r.check("corpus = kept docs minus forgotten", corpus == corpusLang.keySet,
      s"${corpus.size} vs ${corpusLang.size} rows")
    r.check("forgotten docs gone", forgotten.forall(id => !corpus.contains(id)))
    // the index after deletes equals an index that never held the deleted rows
    val survivors = spark.read.schema(embSchema).json(embSrc)
      .filter(!col("vec_id").isin(forgotten.toSeq: _*))
    val never = Ann.ivfPqIndex(survivors, "embedding", "vec_id", centroids, codebooks)
    val stored = spark.table(t("annidx")).select("vec_id", "__list", "code")
    r.check("ANN index equals the never-contained build",
      stored.exceptAll(never).isEmpty && never.exceptAll(stored).isEmpty)
    r.check("ANN index row count", stored.count() == embIds.size - forgotten.size)
    if (lastDpGroups >= 0)
      r.check("DP release groups", lastDpGroups == corpusLang.values.toSet.size,
        s"$lastDpGroups vs ${corpusLang.values.toSet.size}")
  }

  def storedBytes: Long = Disk.bytes(env.o.dir.resolve(s"warehouse/$db.db")) + Disk.bytes(work)

  def inputBytesTotal: Long = fedBytes

  override def extraLayerMetrics(tr: Tracer): Map[String, Double] = {
    val gate = tr.spans.filter(s => s.name.startsWith("streaming.ingest") ||
      s.name.endsWith("Gate"))
    val batches = gate.flatMap(_.batches).filter(_.rows > 0)
    val n = math.max(1, batches.size).toDouble
    val dedupShuffle = tr.spans.filter(_.layer == "dedup").map(_.shuffleBytes).sum
    val docsIn = truths.drop(1).map(t => t.docs - t.short).sum // past the DQ gate
    probe.metrics(tr) ++ Map("streaming.batches" -> batches.size.toDouble,
      "streaming.jobs_per_batch" -> gate.map(_.jobs).sum / n,
      "streaming.driver_s_per_batch" -> batches.map(tr.batchDriverNs).sum / 1e9 / n,
      "dedup.shuffle_bytes_per_doc" -> dedupShuffle.toDouble / math.max(1, docsIn))
  }
}

object CurationDailyOps {
  val DocsPerDay = 1200
  val CorpusDocs = 3600
}
