package lakebench

import graft.catalog.{CatalogOps, FileStats, SchemaEvolution}
import graft.config.Specs
import graft.config.Specs.NodeOps
import graft.dq.DqEngine
import graft.lineage.Lineage
import graft.mapping.CustomMapping
import graft.pipeline.{JobArgs, PipelineRunner}
import graft.sources.Sources
import graft.stores.{LookupStore, TokenStore}
import graft.transforms.{TransformContext, TransformRegistry}
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

import java.nio.file.Files
import java.time.LocalDate
import scala.collection.mutable

/** `policy_daily_load`: the reference's main job, one day after another,
  * on a cleansed table that carries a FileStats index (min/max on the policy
  * number and earned premium, bloom filter on the policy number). Each step
  * is one day: `collectToCleanse` of the day's feed, `FileStats.refresh`,
  * the earned-premium `cleanseToConsume` (its scans routed through the
  * index), then a stats-pruned point read and key-range read of policies
  * loaded earlier. The set-up loads one day of history and builds the index.
  *
  * In a traced run the load is not one call: the steps of
  * `collectToCleanse` run one public function at a time, each materialized
  * inside its own span, and must write the same rows. */
final class PolicyDailyLoad(env: Env, ns: String) extends Instance {
  private val spark = env.spark
  private val seed = env.o.seed
  private val gen = new PolicyGen(seed, env.inputDir.resolve("policy"), PolicyDailyLoad.RowsPerDay)
  private val db = s"w1_$ns"
  private val table = "policies"
  private val cleansed = s"$db.$table"
  private val stats = s"$db.${table}_stats"
  private val statsSpec = FileStats.StatsSpec(Seq("policynumber", "earnedpremium"),
    bloomCols = Seq("policynumber"), bloomBits = 1 << 16)
  private val probe = new CatalogProbe(spark)
  private val runner = new PipelineRunner(spark)
  private val tokenDir = env.workDir.resolve(s"tokens_$ns")
  private lazy val spec = Specs.datasetSpec(Specs.readJsonFile(gen.specJson.toString))
  private lazy val mapping = Specs.mappingCsv(Files.readString(gen.mappingCsv))
  private lazy val dq = Specs.dqRules(Specs.readJsonFile(gen.dqJson.toString))
  private lazy val sql = Files.readString(gen.consumeSql)
  private lazy val lookups = LookupStore.fromDirectory(gen.lookupDir.toString)
  /** Latest delivery per date, and every delivery (quarantine appends). */
  private val latest = mutable.LinkedHashMap.empty[LocalDate, PolicyDayTruth]
  private val deliveries = mutable.ArrayBuffer.empty[PolicyDay]
  private var lastPublished: Option[PolicyDayTruth] = None
  private var fedBytes = 0L

  def tracedSteps: Int = 2
  override def stepsPerRound: Int = 2

  private var history: PolicyDay = _

  def prepare(): Unit = {
    gen.writeConfig()
    history = gen.day(0)
    val multi = gen.lookupDir.resolve("multi_lobcoverage.parquet")
    if (!Files.exists(multi)) {
      import spark.implicits._
      // one file under a fixed name, so the lookup dir is byte-identical per seed
      val tmp = env.workDir.resolve("multi_tmp").toString
      gen.multiLookupRows.toDF("lookup_item", "coverage", "tier").coalesce(1)
        .write.mode("overwrite").parquet(tmp)
      val part = Files.list(java.nio.file.Paths.get(tmp)).toArray.map(_.asInstanceOf[java.nio.file.Path])
        .find(_.getFileName.toString.endsWith(".parquet")).get
      Files.createDirectories(multi)
      Files.copy(part, multi.resolve("part-00000.parquet"))
    }
  }

  private def args(d: PolicyDay): JobArgs = JobArgs("lakebench", table, d.file.toString,
    s"$seed-${d.index}", runner.partitionFor(d.date), db, environment = "Dev")

  private def context(d: PolicyDay, lineage: Lineage): TransformContext =
    TransformContext(spark, filename = d.file.getFileName.toString, lookupStore = lookups,
      tokenStore = Some(new TokenStore(tokenDir.toString)), lineage = Some(lineage))

  private def subs(d: PolicyDay): Map[String, String] =
    Map("database" -> db, "table" -> table) ++ runner.partitionFor(d.date)

  def setup(): Unit = {
    val d = history
    val a = args(d)
    runner.collectToCleanse(a, spec, mapping, dq, context(d, new Lineage(a.executionId)))
    FileStats.refresh(spark, cleansed, stats, statsSpec)
    runner.cleanseToConsume(a, sql, subs(d), dq, statsTables = Map(cleansed -> stats))
    record(d)
    lastPublished = Some(d.truth)
  }

  private def record(d: PolicyDay): Unit = {
    latest(d.date) = d.truth
    deliveries += d
    fedBytes += d.bytes
  }

  def step(r: Runner, i: Int): Unit = {
    val d = gen.day(i + 1)
    val a = args(d)
    r.step("day") {
      val loaded = r.op("load", "pipeline.collectToCleanse", d.truth.rows, d.bytes) {
        if (r.tracer.isEmpty)
          runner.collectToCleanse(a, spec, mapping, dq, context(d, new Lineage(a.executionId)))
        else tracedCollectToCleanse(r, d, a)
      }
      if (loaded.nonEmpty) {
        record(d)
        val indexed = probe.rewrite(r, Seq(stats))(r.op("refresh", "catalog.refresh")(
          FileStats.refresh(spark, cleansed, stats, statsSpec)))
        r.op("publish", "pipeline.cleanseToConsume")(runner.cleanseToConsume(a, sql, subs(d), dq,
          statsTables = Map(cleansed -> stats))).foreach(_ => lastPublished = Some(d.truth))
        if (indexed.nonEmpty) reads(r, Gen.rng(seed, 7000L + i))
      }
    }
  }

  /** A point read and a 40-policy key-range read of a day loaded earlier,
    * checked against the generator and the range also against the plain,
    * unpruned read. */
  private def reads(r: Runner, rng: java.util.SplittableRandom): Unit = {
    val dates = latest.keys.toIndexedSeq
    val pols = latest(Gen.pick(rng, dates)).policies
    val p = Gen.pick(rng, pols)
    probe.read(r, cleansed)(r.op("read", "catalog.readPruned") {
      CatalogOps.readPruned(spark, cleansed, stats, col("policynumber") === p.number)
        .select("earnedpremium").collect()
    }).foreach { got =>
      val earned = got.map(_.getDecimal(0)).foldLeft(java.math.BigDecimal.ZERO)(_ add _)
      r.check(s"point read ${p.number}", got.length == p.months && earned.compareTo(p.earned) == 0,
        s"${got.length} rows, $earned vs ${p.months} rows, ${p.earned}")
    }
    val from = rng.nextInt(math.max(1, pols.size - 40))
    val range = pols.slice(from, from + 40)
    val (lo, hi) = (range.head.number, range.last.number)
    probe.read(r, cleansed)(r.op("read", "catalog.scanPruned") {
      FileStats.scanPruned(spark, cleansed, stats,
        Seq(FileStats.RangePredicate("policynumber", Some(lo), Some(hi))))
        .select("policynumber", "earnedpremium").collect()
    }).foreach { got =>
      val want = range.map(_.months).sum
      r.check(s"key range $lo..$hi", got.length == want, s"${got.length} vs $want rows")
      val plain = spark.table(cleansed).filter(col("policynumber").between(lo, hi))
        .select("policynumber", "earnedpremium").collect()
      r.check("pruned read equals plain read", plain.map(_.toString).sorted.sameElements(
        got.map(_.toString).sorted))
    }
  }

  /** `collectToCleanse` for this feed, one public call per span, each step
    * materialized inside its span. Mirrors the engine's sequence of calls. */
  private def tracedCollectToCleanse(r: Runner, d: PolicyDay, a: JobArgs): DataFrame = {
    def materialize(df: DataFrame): DataFrame = df.localCheckpoint(true)
    val lineage = new Lineage(a.executionId)
    val ctx = context(d, lineage)
    val initial = r.span("sources.read") {
      val df = Sources.read(spark, a.sourcePath, spec.inputSpec)
      df.cache()
      if (df.isEmpty) throw new RuntimeException("No data found in source file; aborting")
      df
    }
    lineage.update(initial, "read", a.sourcePath)
    r.span("lineage.numericAudit")(lineage.numericAudit(initial, "before"))
    val strict = spec.inputSpec.flatMap(_.bool("strict_schema_mapping")).getOrElse(false)
    val mapped = r.span("mapping.applyMapping")(
      materialize(CustomMapping.applyMapping(initial, mapping, strict)))
    lineage.update(mapped, "mapping")
    val engine = new DqEngine(Some(quarantineSink(a)))
    val afterDq1 = r.span("dq.before_transform")(materialize(engine.runRuleset(mapped,
      dq.getOrElse("before_transform", Map.empty), "before_transform")))
    val transformed = spec.transformSpec.foldLeft(afterDq1) { case (acc, (key, node)) =>
      r.span(s"transforms.${Specs.dispatchName(key)}")(
        materialize(TransformRegistry.applyAll(acc, Seq(key -> node), ctx)))
    }
    val withPartition = transformed.withColumns(
      a.partition.map { case (k, v) => k -> lit(v) } + ("execution_id" -> lit(a.executionId)))
    val afterDq2 = r.span("dq.after_transform")(materialize(engine.runRuleset(withPartition,
      dq.getOrElse("after_transform", Map.empty), "after_transform")))
    r.span("lineage.numericAudit")(lineage.numericAudit(afterDq2, "after"))
    val policy = spec.inputSpec.flatMap(_.str("allow_schema_change"))
      .getOrElse(SchemaEvolution.defaultPolicy(a.environment))
    r.span("pipeline.writePartitioned")(runner.writePartitioned(afterDq2,
      s"$db.$table", a.partition.keys.toSeq, policy))
    if (engine.resultsLog.nonEmpty)
      r.span("dq.writeResults")(engine.writeResults(spark, s"$db.${table}_dq_results", a.executionId))
    afterDq2
  }

  /** The engine's quarantine sink (private to `PipelineRunner`), restated:
    * failing rows land in `<db>.<table>_quarantine_<ruleset>`. */
  private def quarantineSink(a: JobArgs)(failed: DataFrame, rulesetName: String): Unit = {
    val withPart = failed.withColumns(a.partition.map { case (k, v) => k -> lit(v) })
    val target = s"${a.databaseName}.${a.tableName}_quarantine_$rulesetName"
    spark.sql(s"CREATE DATABASE IF NOT EXISTS ${a.databaseName}")
    if (!spark.catalog.tableExists(target))
      withPart.write.format("parquet").mode(SaveMode.Append)
        .partitionBy(a.partition.keys.toSeq: _*).saveAsTable(target)
    else {
      val schema = spark.table(target).schema
      withPart.select(schema.fields.map(f =>
        (if (withPart.columns.contains(f.name)) col(f.name).cast(f.dataType)
         else lit(null).cast(f.dataType)).as(f.name)).toSeq: _*)
        .write.mode(SaveMode.Append).insertInto(target)
    }
  }

  def verify(r: Runner): Unit = {
    def key(d: LocalDate) = (f"${d.getYear}%04d", f"${d.getMonthValue}%02d", f"${d.getDayOfMonth}%02d")
    val cleansed = spark.table(s"$db.$table").groupBy("year", "month", "day")
      .agg(count(lit(1)), sum(col("earnedpremium")),
        count(if (spark.table(s"$db.$table").columns.contains("brokerchannel"))
          col("brokerchannel") else lit(null)))
      .collect().map(x => (x.getString(0), x.getString(1), x.getString(2)) ->
        (x.getLong(3), Option(x.getDecimal(4)).getOrElse(java.math.BigDecimal.ZERO), x.getLong(5))).toMap
    r.check("cleansed partitions", cleansed.keySet == latest.keySet.map(key),
      s"${cleansed.keySet} vs ${latest.keySet.map(key)}")
    latest.foreach { case (date, t) =>
      cleansed.get(key(date)).foreach { case (n, earned, broker) =>
        r.check(s"cleansed rows $date", n == t.cleansedRows, s"$n vs ${t.cleansedRows}")
        r.check(s"earned premium $date", earned.compareTo(t.earned) == 0, s"$earned vs ${t.earned}")
        r.check(s"evolved column $date", broker == (if (t.evolved) t.cleansedRows else 0L),
          s"$broker non-null brokerchannel")
      }
    }
    def quarantined(ruleset: String): Map[(String, String, String), Long] =
      spark.table(s"$db.${table}_quarantine_$ruleset").groupBy("year", "month", "day").count()
        .collect().map(x => (x.getString(0), x.getString(1), x.getString(2)) -> x.getLong(3)).toMap
    val qb = quarantined("before_transform"); val qa = quarantined("after_transform")
    deliveries.groupBy(_.date).foreach { case (date, ds) =>
      val wantB = ds.map(_.truth.quarantinedBefore.toLong).sum
      val wantA = ds.map(_.truth.quarantinedAfter).sum
      r.check(s"quarantined before transform $date", qb.getOrElse(key(date), 0L) == wantB,
        s"${qb.getOrElse(key(date), 0L)} vs $wantB")
      r.check(s"quarantined after transform $date", qa.getOrElse(key(date), 0L) == wantA,
        s"${qa.getOrElse(key(date), 0L)} vs $wantA")
    }
    val warns = spark.table(s"$db.${table}_dq_results")
      .filter(col("action") === "warn" && col("outcome") === "Failed").count()
    val wantWarns = deliveries.count(d => (d.truth.rows - d.truth.missingAgents).toDouble / d.truth.rows <= 0.995)
    r.check("warn-tier failures recorded", warns == wantWarns, s"$warns vs $wantWarns")
    lastPublished.foreach { t =>
      val c = spark.table(s"${db}_consume.$table")
        .agg(sum(col("policy_months")), sum(col("earned"))).head()
      r.check("published policy months", c.getLong(0) == t.cleansedRows, s"${c.getLong(0)} vs ${t.cleansedRows}")
      r.check("published earned premium", c.getDecimal(1).compareTo(t.earned) == 0,
        s"${c.getDecimal(1)} vs ${t.earned}")
    }
  }

  def storedBytes: Long = Disk.bytes(env.o.dir.resolve(s"warehouse/$db.db")) +
    Disk.bytes(env.o.dir.resolve(s"warehouse/${db}_consume.db")) + Disk.bytes(tokenDir)

  def inputBytesTotal: Long = fedBytes

  /** Feed bytes read by the collect phase (everything but the token-store
    * append and the table write) over the feed bytes of the traced days. */
  override def extraLayerMetrics(t: Tracer): Map[String, Double] = {
    val collect = t.spans.filter(s => Set("sources", "mapping", "transforms", "dq", "lineage")
      .contains(s.layer) && s.name != "transforms.tokenize")
    probe.metrics(t) + ("sources.scan_amplification" ->
      collect.map(_.inputBytes).sum.toDouble / math.max(1L, deliveries.drop(1).map(_.bytes).sum))
  }
}

object PolicyDailyLoad {
  val RowsPerDay = 3000
}

object Disk {
  /** Bytes of all regular files under `p` (0 when absent). */
  def bytes(p: java.nio.file.Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }
}
