package lakebench

import java.math.{BigDecimal => JBig, RoundingMode}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.time.LocalDate
import java.util.SplittableRandom

/** Seeded input generators. Every generator derives its random stream from
  * the run seed plus a fixed salt, so one seed gives byte-identical files.
  * Each also returns the ground truth the workload checks its outputs
  * against, computed here in plain Scala, independently of the engine. */
object Gen {
  def rng(seed: Long, salt: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + salt)

  def write(p: Path, text: String): Long = {
    Files.createDirectories(p.getParent)
    Files.write(p, text.getBytes(UTF_8))
    Files.size(p)
  }

  private val letters = "abcdefghijklmnopqrstuvwxyz"
  def word(r: SplittableRandom, min: Int, max: Int): String =
    Seq.fill(min + r.nextInt(max - min + 1))(letters(r.nextInt(26))).mkString

  def pick[T](r: SplittableRandom, xs: IndexedSeq[T]): T = xs(r.nextInt(xs.size))
}

// ====================================================================== W1

/** Ground truth of one delivered policy feed. */
final case class PolicyDayTruth(rows: Int, missingAgents: Int, quarantinedBefore: Int,
                                cancelled: Int, monthRows: Long,
                                quarantinedAfter: Long, cleansedRows: Long,
                                earned: JBig, evolved: Boolean,
                                policies: IndexedSeq[PolicyTruth])

/** One cleansed policy: its month rows and their earned-premium total. */
final case class PolicyTruth(number: String, months: Int, earned: JBig)

final case class PolicyDay(index: Int, date: LocalDate, file: Path, bytes: Long,
                           truth: PolicyDayTruth)

/** Insurance policy feeds in the reference's config formats: a CSV per day,
  * the mapping CSV, the transform spec, DQ rules, the consume SQL and a
  * lookup directory.
  *
  * Day `i` is delivered on date `start + i`, except that every fifth day
  * (i % 5 == 2) re-delivers the previous day's file for the same date.
  * Days with i % 5 == 1 add a column, so the first two timed days (one
  * round of the loop, and the traced schedule) hold both a schema change
  * and its re-delivery. Planted rows: empty policy
  * numbers (quarantined before transform), unparseable premiums
  * (quarantined after transform, one row per policy month), cancelled
  * policies (dropped by `filterrows`), missing agent codes (a warn rule
  * fails, rows flow on) and unknown state codes (lookup no-match). */
final class PolicyGen(seed: Long, dir: Path, rowsPerDay: Int) {
  import Gen._
  val start: LocalDate = LocalDate.of(2024, 1, 1)
  val states: IndexedSeq[(String, String)] = IndexedSeq("CA" -> "California",
    "NY" -> "New York", "TX" -> "Texas", "WA" -> "Washington", "FL" -> "Florida",
    "IL" -> "Illinois", "OH" -> "Ohio", "GA" -> "Georgia")
  val lobs: IndexedSeq[String] = IndexedSeq("Auto", "Home", "Commercial")
  private val usDate = java.time.format.DateTimeFormatter.ofPattern("MM/dd/yyyy")
  val classes: IndexedSeq[String] = IndexedSeq("A", "B", "C")

  val mappingCsv: Path = dir.resolve("mapping.csv")
  val specJson: Path = dir.resolve("spec.json")
  val dqJson: Path = dir.resolve("dq.json")
  val consumeSql: Path = dir.resolve("consume.sql")
  val lookupDir: Path = dir.resolve("lookups")
  val multiLookupRows: Seq[(String, String, String)] = for {
    l <- lobs; c <- classes
  } yield (s"$l-$c", s"${l.toLowerCase}_${c.toLowerCase}_cover", s"tier${classes.indexOf(c) + 1}")

  /** Writes the config files; the multi-lookup parquet is written by the
    * caller (it needs Spark). */
  def writeConfig(): Unit = {
    write(mappingCsv, Seq("SourceName,DestName", "Policy Number,policynumber",
      "Customer Name,customername", "SSN,ssn", "Effective Date,effectivedate",
      "Expiration Date,expirationdate", "Written Premium,writtenpremium",
      "State Code,statecode", "Line Of Business,lob", "Risk Class,riskclass",
      "Agent Code,agentcode", "Policy Status,status", "Broker Channel,brokerchannel",
      "Internal Note,Null").mkString("", "\n", "\n"))
    write(specJson,
      """{
        |  "input_spec": {"table_description": "lakebench policy feed",
        |                 "allow_schema_change": "permissive"},
        |  "transform_spec": {
        |    "date": [{"field": "effectivedate", "format": "MM/dd/yyyy"},
        |             {"field": "expirationdate", "format": "MM/dd/yyyy"}],
        |    "currency": [{"field": "writtenpremium"}],
        |    "changetype": {"agentcode": "int"},
        |    "lookup": [{"field": "statename", "source": "statecode",
        |                "lookup": "statename", "nomatch": "Unknown"}],
        |    "multilookup": [{"lookup_group": "lobcoverage",
        |                     "match_columns": ["lob", "riskclass"],
        |                     "return_attributes": ["coverage", "tier"],
        |                     "nomatch": "N/A"}],
        |    "hash": ["customername"],
        |    "tokenize": ["ssn"],
        |    "filterrows": [{"condition": "status <> 'Cancelled'"}],
        |    "policymonths": [{"field": "policymonths",
        |                      "policy_effective_date": "effectivedate",
        |                      "policy_expiration_date": "expirationdate",
        |                      "normalized": true}],
        |    "expandpolicymonths": {"policy_effective_date": "effectivedate",
        |                           "policy_expiration_date": "expirationdate",
        |                           "policy_month_start_field": "policy_month_start",
        |                           "policy_month_end_field": "policy_month_end"},
        |    "earnedpremium": [{"field": "earnedpremium", "byday": true,
        |                       "written_premium_list": ["writtenpremium"],
        |                       "policy_effective_date": "effectivedate",
        |                       "policy_expiration_date": "expirationdate",
        |                       "period_start_date": "policy_month_start",
        |                       "period_end_date": "policy_month_end"}]
        |  }
        |}
        |""".stripMargin)
    write(dqJson,
      """{
        |  "before_transform": {
        |    "warn_rules": ["Completeness 'agentcode' > 0.995"],
        |    "quarantine_rules": ["IsComplete 'policynumber'"],
        |    "halt_rules": ["RowCount > 0"]
        |  },
        |  "after_transform": {
        |    "quarantine_rules": ["IsComplete 'writtenpremium'"]
        |  }
        |}
        |""".stripMargin)
    write(consumeSql,
      """SELECT statename, lob, year, month, day,
        |       CAST(SUM(earnedpremium) AS DECIMAL(18,2)) AS earned,
        |       COUNT(*) AS policy_months
        |FROM {database}.{table}
        |WHERE year = '{year}' AND month = '{month}' AND day = '{day}'
        |GROUP BY statename, lob, year, month, day
        |""".stripMargin)
    write(lookupDir.resolve("statename.json"),
      states.map { case (c, n) => s"${Json.str(c)}: ${Json.str(n)}" }.mkString("{", ", ", "}\n"))
  }

  def dateOf(i: Int): LocalDate =
    if (i % 5 == 2) start.plusDays(i - 1L) else start.plusDays(i.toLong)

  /** Day `i`'s feed; a re-delivery reuses day `i-1`'s bytes. */
  def day(i: Int): PolicyDay = {
    val src = if (i % 5 == 2) i - 1 else i
    val evolved = src % 5 == 1
    val file = dir.resolve(f"feed/policies_$i%04d.csv")
    val r = rng(seed, 1000L + src)
    val date = dateOf(src)
    val header = Seq("Policy Number", "Customer Name", "SSN", "Effective Date",
      "Expiration Date", "Written Premium", "State Code", "Line Of Business",
      "Risk Class", "Agent Code", "Policy Status", "Internal Note") ++
      (if (evolved) Seq("Broker Channel") else Nil)
    val sb = new StringBuilder(header.mkString("", ",", "\n"))
    var qBefore = 0; var cancelled = 0; var missingAgents = 0
    var monthRows = 0L; var qAfter = 0L; var cleansed = 0L
    var earned = JBig.ZERO
    val policies = IndexedSeq.newBuilder[PolicyTruth]
    (0 until rowsPerDay).foreach { j =>
      val noNumber = r.nextInt(100) == 0
      val pn = if (noNumber) "" else f"PN${src}%04d$j%06d"
      val name = s"${word(r, 4, 8).capitalize} ${word(r, 5, 10).capitalize}"
      val ssn = f"${r.nextInt(900) + 100}%03d-${r.nextInt(90) + 10}%02d-${r.nextInt(9000) + 1000}%04d"
      val eff = date.minusDays(r.nextInt(365).toLong)
      val exp = eff.plusMonths(if (r.nextInt(4) == 0) 6L else 12L)
      val cents = 20000L + r.nextInt(480000)
      val badPremium = r.nextInt(200) == 0
      val premium = if (badPremium) "N/A"
        else "\"$" + f"${cents / 100}%,d.${cents % 100}%02d" + "\""
      val state = if (r.nextInt(50) == 0) "ZZ" else pick(r, states)._1
      val lob = pick(r, lobs); val cls = pick(r, classes)
      val agent = if (r.nextInt(100) == 0) { missingAgents += 1; "" }
        else (1000 + r.nextInt(9000)).toString
      val isCancelled = r.nextInt(20) == 0
      val note = word(r, 3, 6)
      sb ++= Seq(pn, name, ssn, eff.format(usDate), exp.format(usDate), premium, state, lob, cls,
        agent, if (isCancelled) "Cancelled" else "Active", note).mkString(",")
      if (evolved) sb ++= "," + pick(r, IndexedSeq("web", "agent", "partner"))
      sb += '\n'
      if (noNumber) qBefore += 1
      else if (isCancelled) cancelled += 1
      else {
        val months = PolicyGen.months(eff, exp)
        monthRows += months
        if (badPremium) qAfter += months
        else {
          val e = PolicyGen.earnedTotal(JBig.valueOf(cents, 2), eff, exp)
          cleansed += months
          earned = earned.add(e)
          policies += PolicyTruth(pn, months, e)
        }
      }
    }
    val bytes = write(file, sb.toString)
    PolicyDay(i, date, file, bytes, PolicyDayTruth(rowsPerDay, missingAgents, qBefore, cancelled,
      monthRows, qAfter, cleansed, earned, evolved, policies.result()))
  }
}

object PolicyGen {
  /** Month rows `expandpolicymonths` emits: month starts from the effective
    * month through the expiration date. */
  def months(eff: LocalDate, exp: LocalDate): Int = {
    val a = eff.withDayOfMonth(1); val b = exp.withDayOfMonth(1)
    (b.getYear - a.getYear) * 12 + (b.getMonthValue - a.getMonthValue) + 1
  }

  /** Sum over a policy's month rows of the by-day earned premium, rounded
    * per row the way Spark's decimal arithmetic rounds it: premium × overlap
    * ÷ term at scale 13 (half-up), then cast to scale 2 (half-up). */
  def earnedTotal(premium: JBig, eff: LocalDate, exp: LocalDate): JBig = {
    val total = java.time.temporal.ChronoUnit.DAYS.between(eff, exp) + 1
    (0 until months(eff, exp)).foldLeft(JBig.ZERO) { (acc, m) =>
      val ms = eff.withDayOfMonth(1).plusMonths(m.toLong)
      val me = ms.withDayOfMonth(ms.lengthOfMonth)
      val s = if (ms.isAfter(eff)) ms else eff
      val e = if (me.isBefore(exp)) me else exp
      val overlap = java.time.temporal.ChronoUnit.DAYS.between(s, e) + 1
      if (total <= 0 || overlap <= 0) acc
      else acc.add(premium.multiply(JBig.valueOf(overlap))
        .divide(JBig.valueOf(total), 13, RoundingMode.HALF_UP)
        .setScale(2, RoundingMode.HALF_UP))
    }
  }
}

// ====================================================================== W2

final case class Doc(id: Long, grp: Int, lang: String, text: String)

/** What the chain must do with one day's batch. */
final case class DocDayTruth(docs: Int, short: Int, dupInBatch: Int,
                             dupOfStored: Int, kept: Seq[Long], keptLangs: Seq[String],
                             forget: Seq[Long])

final case class DocDay(index: Int, docsFile: Path, embFile: Path, bytes: Long,
                        embIds: Seq[Long], truth: DocDayTruth)

/** Daily document and embedding batches with planted short documents,
  * exact and near-duplicate twins (inside the batch and of stored
  * documents) and forget-me keys.
  *
  * Day 0 is the stored corpus the set-up ingests. Texts draw from a large
  * seeded vocabulary, so unrelated documents share almost no tokens; a near
  * twin swaps one token (Jaccard >= 0.94 against its original, above the
  * 0.8 threshold). Twins sit in their original's block. Stored-corpus twins
  * point only at every other day-0 document, which is never forgotten;
  * every later day forgets stored survivors (one per hundred docs of the
  * day, repeated draws dropped) drawn from the other day-0 documents and
  * from earlier days. */
final class DocGen(seed: Long, dir: Path, docsPerDay: Int, corpusDocs: Int) {
  import Gen._
  val dim = 64
  val blocks = 4
  val langs: IndexedSeq[String] = IndexedSeq("en", "de", "fr", "es", "it")
  private val vocab: IndexedSeq[String] = {
    val r = rng(seed, 2)
    Iterator.continually(word(r, 3, 9)).distinct.take(30000).toIndexedSeq
  }
  private val corpus = scala.collection.mutable.ArrayBuffer.empty[Doc]
  /** Survivors of timed days that may still be forgotten. */
  private val forgettable = scala.collection.mutable.ArrayBuffer.empty[Long]

  private def text(r: SplittableRandom, n: Int): String =
    Seq.fill(n)(pick(r, vocab)).mkString(" ")

  private def longText(r: SplittableRandom): String = {
    var t = text(r, 45 + r.nextInt(40))
    while (t.length < 200) t = t + " " + pick(r, vocab)
    t
  }

  /** Replaces one token with a token the text does not contain. */
  private def nearTwin(r: SplittableRandom, t: String): String = {
    val toks = t.split(" ")
    val distinct = toks.toSet
    var w = pick(r, vocab)
    while (distinct.contains(w)) w = pick(r, vocab)
    toks(r.nextInt(toks.length)) = w
    toks.mkString(" ")
  }

  def day(i: Int): DocDay = {
    val r = rng(seed, 5000L + i)
    val n = if (i == 0) corpusDocs else docsPerDay
    val base = i.toLong * 1000000L
    val docs = scala.collection.mutable.ArrayBuffer.empty[Doc]
    var short = 0; var inBatch = 0; var ofStored = 0
    val kept = scala.collection.mutable.ArrayBuffer.empty[Long]
    val keptLangs = scala.collection.mutable.ArrayBuffer.empty[String]
    val longDocs = scala.collection.mutable.ArrayBuffer.empty[Doc]
    (0 until n).foreach { j =>
      val id = base + j
      val lang = pick(r, langs)
      val roll = r.nextInt(100)
      val d =
        if (roll < 6) { // short: quarantined by the DQ gate
          short += 1
          var t = text(r, 3 + r.nextInt(12))
          while (t.length >= 200) t = t.take(150).trim
          Doc(id, r.nextInt(blocks), lang, t)
        } else if (roll < 18 && longDocs.nonEmpty) { // twin of an earlier batch doc
          inBatch += 1
          val o = pick(r, longDocs.toIndexedSeq)
          Doc(id, o.grp, lang, if (roll < 12) o.text else nearTwin(r, o.text))
        } else if (roll < 24 && i > 0 && corpus.nonEmpty) { // twin of a stored doc
          ofStored += 1
          val o = pick(r, corpus.toIndexedSeq)
          Doc(id, o.grp, lang, if (roll < 21) o.text else nearTwin(r, o.text))
        } else {
          val d = Doc(id, r.nextInt(blocks), lang, longText(r))
          longDocs += d
          kept += id
          keptLangs += lang
          d
        }
      docs += d
    }
    // every other stored doc may get twins, the rest forget requests; the
    // two halves interleave, so forget requests reach every part of the
    // key range (and every file of the corpus) on every seed
    if (i == 0) {
      val (even, odd) = longDocs.zipWithIndex.partition(_._2 % 2 == 0)
      corpus ++= even.map(_._1)
      forgettable ++= odd.map(_._1.id)
    }
    val forget =
      if (i == 0) Nil
      else {
        val pool = forgettable.toIndexedSeq
        val chosen = Seq.fill(math.min(docsPerDay / 100, pool.size))(pick(r, pool)).distinct
        forgettable --= chosen
        chosen
      }
    if (i > 0) forgettable ++= kept
    val docsFile = dir.resolve(f"docs/day_$i%04d.json")
    val embFile = dir.resolve(f"emb/day_$i%04d.json")
    val b1 = write(docsFile, docs.map { d =>
      Json.obj(Seq("doc_id" -> d.id, "grp" -> d.grp, "lang" -> d.lang,
        "n_chars" -> d.text.length, "text" -> d.text))
    }.mkString("", "\n", "\n"))
    val b2 = write(embFile, docs.map { d =>
      val v = Seq.fill(dim)(math.round(r.nextGaussian() * 10000.0) / 10000.0)
      Json.obj(Seq("vec_id" -> d.id, "embedding" -> v))
    }.mkString("", "\n", "\n"))
    DocDay(i, docsFile, embFile, b1 + b2, docs.map(_.id).toSeq,
      DocDayTruth(n, short, inBatch, ofStored, kept.toSeq, keptLangs.toSeq, forget))
  }
}
