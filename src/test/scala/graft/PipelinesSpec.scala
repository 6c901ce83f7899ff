package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import java.nio.file.Files
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import graft.pipeline.{FdaPipeline, PdfPipeline, JsonlPublish}
import graft.sources.{Sources, Sinks}

/** End-to-end lifecycle tests (SURVEY §3.1–§3.3) on synthetic fixtures. */
class PipelinesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft_e2e").toString

  test("FDA lifecycle: delta → clean → publish → master update") {
    // file-backed inputs: a local Seq folds into a LocalRelation, which
    // would hide where Catalyst places the clean relative to the anti-join
    val in = tmp()
    Seq(
      ("https://x/1", "Drug A approval", "desc A", "01/01/2024",
        "FDA approves drug A for treatment.\nFollow the Oncology Center of Excellence on X now.\nUseful body long enough to pass the fifty character substance gate."),
      ("https://x/2", "Drug B approval", "desc B", "01/02/2024",
        "short"), // fails the >50 gate
      ("https://x/3", "Drug C approval", "desc C", "01/03/2024",
        "Existing doc that is already in the master table, with plenty of text to pass the gate."),
      ("https://x/4", "Drug D approval", "desc D", "01/04/2024", null) // no text
    ).toDF("url", "title", "description", "date", "text").write.json(s"$in/fresh")
    // master already contains url 3's fingerprint
    Seq(Tuple1("https://x/3")).toDF("url")
      .select(md5(col("url")).as("rag_id"), col("url")).write.parquet(s"$in/master")
    val fresh = spark.read.schema(graft.streaming.ScheduledIngest.freshSchema).json(s"$in/fresh")
    val master = spark.read.parquet(s"$in/master")

    val r = FdaPipeline.run(fresh, master, runDate = "2026-01-01")
    val published = r.published.collect()
    assert(published.length == 1)
    val row = published(0)
    assert(row.getAs[String]("url") == "https://x/1")
    assert(!row.getAs[String]("content").contains("Follow the Oncology Center"))
    assert(row.getAs[String]("source") == "fda_oncology")
    assert(row.getAs[String]("version") == "1.0")
    // the short and the null text both fail the gate into quarantine
    // (a NULL corpus must not drop out of both branches)
    assert(r.quarantined.select("url").as[String].collect().toSet ==
      Set("https://x/2", "https://x/4"))
    // master grew by exactly the published delta; the row already in the
    // master is in no output and stays in the master once
    val mastered = r.updatedMaster.select("url").as[String].collect()
    assert(mastered.sorted.toSeq == Seq("https://x/1", "https://x/3"))
    assert(r.delta.select("url").as[String].collect().toSet ==
      Set("https://x/1", "https://x/2", "https://x/4"))

    // the delta cleans only what survives the anti-join
    val plan = r.delta.queryExecution.optimizedPlan
    def cleans(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) =
      p.expressions.exists(_.exists(_.isInstanceOf[graft.expr.CleanCorpusExpr]))
    val antiJoins = plan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join
        if j.joinType == org.apache.spark.sql.catalyst.plans.LeftAnti => j
    }
    assert(antiJoins.size == 1, plan)
    assert(!antiJoins.head.exists(cleans), plan)
    assert(plan.exists(cleans), plan)
  }

  test("PDF lifecycle: convert → doi/title enrich → verify → output") {
    val mk = (s: String) => s.getBytes("UTF-8")
    val binaries = Seq(
      ("f1.pdf", mk("# Paper One\n\nBody text doi: 10.1234/jex.2023.001 rest.")),
      ("f2.pdf", mk("# A Study of Examplinib In Mice\n\nNo doi present here.")),
      ("f3.pdf", mk("# Completely Unrelated\n\nNothing matches this one.")),
      // DOI conflict: title matches dim row 1 exactly, but the local DOI
      // differs from that row's DOI → verify() vetoes (pubmed_enrichment
      // .py:277-284 returns unverified before the title check is reached)
      ("f4.pdf", mk("# Paper One Exact\n\nBody doi: 10.9999/conflict.404 x.")),
      // the 0.90 gate's tie: "examplinix" vs "examplinib", 9 of 10 chars
      // matched, ratio 18/20 == 0.90 exactly → verified
      ("f5.pdf", mk("# Examplinix\n\nNo doi here either.")),
      // just under the gate: 17 of 19 matched, ratio 34/38 ≈ 0.895
      ("f6.pdf", mk("# Zorbatinib Effixazy\n\nNo doi here either."))
    ).toDF("path", "content")

    val dim = Seq(
      ("10.1234/jex.2023.001", "Paper One Exact", "J One", "2023",
        Seq("Smith, J"), "111"),
      (null, "A Study of Examplinib in Mice", "J Two", "2022",
        Seq("Doe, A", "Roe, B"), "222"),
      (null, "Examplinib", "J Three", "2021", Seq("Poe, C"), "333"),
      (null, "Zorbatinib Efficacy", "J Four", "2020", Seq("Loe, D"), "444")
    ).toDF("doi", "title", "journal", "year", "authors", "pmid")

    // the title join's condition is the threshold kernel over titles
    // normalized below the join: no regex pass and no full ratio per pair
    val plan = PdfPipeline.run(binaries, dim).queryExecution.optimizedPlan
    val titleJoins = plan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join
        if j.condition.exists(_.exists(e =>
          e.isInstanceOf[graft.expr.RatcliffSimilarity] ||
          e.isInstanceOf[graft.expr.RatcliffAtLeast])) => j.condition.get
    }
    assert(titleJoins.size == 1, plan)
    val cond = titleJoins.head
    assert(cond.exists(_.isInstanceOf[graft.expr.RatcliffAtLeast]), cond)
    assert(!cond.exists(_.isInstanceOf[graft.expr.RatcliffSimilarity]), cond)
    assert(!cond.exists(_.isInstanceOf[
      org.apache.spark.sql.catalyst.expressions.RegExpReplace]), cond)

    val out = PdfPipeline.run(binaries, dim).collect()
      .map(r => r.getAs[String]("path") -> r).toMap
    assert(out.size == 6)

    assert(out("f1.pdf").getAs[Boolean]("verified"))
    assert(out("f1.pdf").getAs[String]("Link") == "https://doi.org/10.1234/jex.2023.001")
    assert(out("f1.pdf").getAs[String]("Citation").contains("(2023)"))

    assert(out("f2.pdf").getAs[Boolean]("verified"))   // title sim ≥ 0.90
    assert(out("f2.pdf").getAs[String]("Link") == "https://pubmed.ncbi.nlm.nih.gov/222")
    assert(out("f2.pdf").getAs[String]("Citation").startsWith("Doe, A, & Roe, B."))

    assert(!out("f4.pdf").getAs[Boolean]("verified"))  // DOI-conflict veto
    assert(out("f4.pdf").getAs[String]("Citation") ==
      "Document. Paper One Exact. (Unverified)")

    assert(!out("f3.pdf").getAs[Boolean]("verified"))
    assert(out("f3.pdf").getAs[String]("Citation") ==
      "Document. Completely Unrelated. (Unverified)")
    assert(out("f3.pdf").getAs[String]("Link") == "https://pubmed.ncbi.nlm.nih.gov")

    assert(out("f5.pdf").getAs[Boolean]("verified"))   // ratio == 0.90
    assert(out("f5.pdf").getAs[String]("Link") == "https://pubmed.ncbi.nlm.nih.gov/333")
    assert(!out("f6.pdf").getAs[Boolean]("verified"))  // ratio ≈ 0.895
    assert(out("f6.pdf").getAs[String]("Citation") ==
      "Document. Zorbatinib Effixazy. (Unverified)")
  }

  test("PDF lifecycle: one scan and one conversion per file; a duplicated " +
      "DOI keeps both rows, a title tie the lowest pmid") {
    val in = tmp()
    val files = Seq(
      "a.pdf" -> "# Dup Doi Paper\n\nBody doi: 10.5555/dup.001 rest.",
      "b.pdf" -> "# Twin Title\n\nNo doi present here.",
      "c.pdf" -> "# Nothing Here At All\n\nNo doi either.",
      "d.pdf" -> "# Single Doi Paper\n\nBody doi: 10.5555/one.002 rest.")
    for ((f, text) <- files) Files.writeString(java.nio.file.Path.of(in, f), text)
    val dim = Seq(
      ("10.5555/dup.001", "Dup Doi Paper", "J Dup", "2019", Seq("Ann, A"), "501"),
      ("10.5555/DUP.001", "Dup Doi Paper Again", "J Dup", "2019", Seq("Ann, A"), "502"),
      (null, "Twin Title", "J Twin", "2018", Seq("Bo, B"), "602"),
      (null, "Twin Title", "J Twin", "2018", Seq("Bo, B"), "601"),
      ("10.5555/one.002", "Single Doi Paper", "J One", "2017", Seq("Cy, C"), "701")
    ).toDF("doi", "title", "journal", "year", "authors", "pmid")

    val calls = spark.sparkContext.longAccumulator("converter.calls")
    val df = PdfPipeline.run(Sources.binaryFiles(spark, in), dim, new PipelinesSpec.CountingConverter(calls))
    val rows = df.collect()
    assert(calls.value == files.size)
    val binaryScans = Plans.nodes(df.queryExecution.executedPlan).count {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.relation.fileFormat.isInstanceOf[
          org.apache.spark.sql.execution.datasources.binaryfile.BinaryFileFormat]
      case _ => false
    }
    assert(binaryScans == 1, df.queryExecution.executedPlan)

    val links = rows.groupBy(_.getAs[String]("path").split("/").last)
      .map { case (f, rs) => f -> rs.map(_.getAs[String]("Link")).sorted.toSeq }
    // both dimension rows of the duplicated DOI stay, as the DOI path keeps them
    assert(links("a.pdf") ==
      Seq("https://doi.org/10.5555/DUP.001", "https://doi.org/10.5555/dup.001"))
    assert(links("b.pdf") == Seq("https://pubmed.ncbi.nlm.nih.gov/601"))
    assert(links("c.pdf") == Seq("https://pubmed.ncbi.nlm.nih.gov"))
    assert(links("d.pdf") == Seq("https://doi.org/10.5555/one.002"))
    assert(rows.length == 5)
  }

  test("JSONL publish lifecycle over a real directory tree") {
    val in = tmp()
    val fdaDir = new java.io.File(s"$in/fda_set"); fdaDir.mkdirs()
    Files.writeString(java.nio.file.Path.of(s"$in/fda_set/a.json"),
      """[{"RAG_ID":"r1","Title":"T1","Webpage":"https://x/1","Date":"2024-01-01",
        |"Corpus":"markdown='Hello ![img](u) world\\nnext'"}]""".stripMargin)
    val otherDir = new java.io.File(s"$in/other_set"); otherDir.mkdirs()
    Files.writeString(java.nio.file.Path.of(s"$in/other_set/b.json"),
      """{"content":"Plain content body","title":"T2","url":"https://x/2"}""")

    val out = tmp() + "/out"
    val stats = JsonlPublish.run(spark, Seq(s"$in/fda_set", s"$in/other_set"),
      out, runDate = "2026-01-01").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(stats("fda_oncology") == 1L)
    assert(stats("other_set") == 1L)

    val written = spark.read.json(out)
    assert(written.count() == 2)
    val fda = written.filter(col("rag_id") === "r1").collect()(0)
    assert(fda.getAs[String]("content") == "Hello  world\nnext")
    assert(fda.getAs[String]("date") == "2024-01-01")
  }

  test("JSONL publish labels a record fda_oncology by its directories, " +
      "never by its file name") {
    val in = tmp()
    def put(rel: String): Unit = {
      val p = java.nio.file.Path.of(in, rel)
      Files.createDirectories(p.getParent)
      Files.writeString(p, s"""{"content":"body of $rel","title":"$rel"}""")
    }
    // a writer's part file holds a random UUID, which may spell "fda"
    put("plain/part-00000-1fda2e3b.c000.json")
    put("fda_set/record=abc/part-00000-0123.c000.json")
    val out = tmp() + "/out"
    JsonlPublish.run(spark, Seq(s"$in/plain", s"$in/fda_set"), out, runDate = "2026-01-01")
    val labels = spark.read.json(out).select("title", "source").as[(String, String)]
      .collect().toMap
    assert(labels == Map(
      "plain/part-00000-1fda2e3b.c000.json" -> "plain",
      "fda_set/record=abc/part-00000-0123.c000.json" -> "fda_oncology"))
  }

  test("JSONL publish on a quiet day: JSON-less or no input dirs publish " +
      "an empty set") {
    def publish(dirs: Seq[String]): (Map[String, Long], Seq[String]) = {
      val out = tmp() + "/out"
      val stats = JsonlPublish.run(spark, dirs, out, runDate = "2026-01-01")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val lines = new java.io.File(out).listFiles()
        .filter(_.getName.endsWith(".json")).toSeq
        .flatMap(f => Files.readAllLines(f.toPath).toArray.map(_.toString))
      (stats, lines)
    }
    val in = tmp()
    new java.io.File(s"$in/empty/sub").mkdirs()
    Files.writeString(java.nio.file.Path.of(s"$in/empty/sub/notes.txt"), "x")
    new java.io.File(s"$in/full").mkdirs()
    Files.writeString(java.nio.file.Path.of(s"$in/full/a.json"),
      """{"content":"body","title":"T","url":"https://x/1"}""")

    assert(publish(Seq(s"$in/empty")) == (Map.empty, Seq.empty))
    assert(publish(Seq.empty) == (Map.empty, Seq.empty))
    // an empty directory beside a full one drops out; the full one publishes
    val (stats, lines) = publish(Seq(s"$in/empty", s"$in/full"))
    assert(stats == Map("full" -> 1L))
    assert(lines.size == 1 && lines.head.contains("\"content\":\"body\""))
  }

  test("JSONL publish in one schema-free read: mixed dialects in one dir, " +
      "malformed files, the empty-content fallback, a missing dir") {
    val in = tmp()
    def put(rel: String, text: String): Unit = {
      val p = java.nio.file.Path.of(in, rel)
      Files.createDirectories(p.getParent)
      Files.writeString(p, text)
    }
    // an FDA array file beside a PDF object file: one inferred schema
    // would hold both `Title` and `title`
    put("mixed/records.json",
      """[{"RAG_ID":"r1","Title":"T1","Corpus":"body one","Webpage":"https://x/1"},
        |{"RAG_ID":"r3","Title":"Empty","Corpus":"","Date":null,"N":2,"Tags":["a"]}]""".stripMargin)
    put("mixed/page.json", """{"title":"T2","content":"body two","url":"https://x/2"}""")
    put("bad/ok.json", """{"title":"T4","content":"body four"}""")
    put("bad/obj.json", """{"title": "x",""")
    put("bad/arr.json", """[{"title": "y"},""")

    val out = tmp() + "/out"
    val stats = JsonlPublish.run(spark, Seq(s"$in/mixed", s"$in/bad"), out,
      runDate = "2026-01-01").collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(stats == Map("mixed" -> 3L, "bad" -> 3L))
    val lines = new java.io.File(out).listFiles().filter(_.getName.endsWith(".json")).toSeq
      .flatMap(f => Files.readAllLines(f.toPath).toArray.map(_.toString))
    import org.json4s._
    val byTitle = lines.map(l => org.json4s.jackson.JsonMethods.parse(l)
      .asInstanceOf[JObject].obj.collect { case (k, JString(v)) => k -> v }.toMap)
      .groupBy(_("title"))
    assert(byTitle("T1").head("content") == "body one")
    assert(byTitle("T1").head("url") == "https://x/1")
    assert(byTitle("T2").head("content") == "body two")
    assert(byTitle("T2").head("url") == "https://x/2")
    assert(byTitle("T4").head("source") == "bad")

    // an unparseable file publishes one line: Spark's PERMISSIVE record
    val corrupt = byTitle("").map(_("content")).toSet
    assert(corrupt == Set(
      raw"""{"_corrupt_record":"{\"title\": \"x\",","src_file":"file://$in/bad/obj.json"}""",
      raw"""{"_corrupt_record":"[{\"title\": \"y\"},","src_file":"file://$in/bad/arr.json"}"""))
    assert(byTitle("").forall(r => r("source") == "bad" && r("url") == "" &&
      r("date") == "2026-01-01" && r("rag_id") == "d41d8cd98f00b204e9800998ecf8427e"))

    // an empty-content record publishes its own sorted keys, JSON types
    // and explicit nulls, and no engine path
    assert(lines.contains(
      """{"content":"{\"Corpus\":\"\",\"Date\":null,\"N\":2,\"RAG_ID\":\"r3\",""" +
      """\"Tags\":[\"a\"],\"Title\":\"Empty\"}","source":"mixed","url":"",""" +
      """"date":"2026-01-01","version":"1.0","title":"Empty","description":"","rag_id":"r3"}"""))

    intercept[Exception] {
      JsonlPublish.run(spark, Seq(s"$in/mixed", s"$in/missing"), tmp() + "/out",
        runDate = "2026-01-01")
    }
  }

  test("JSONL publish runs one Spark job, the write, whatever the dirs") {
    val in = tmp()
    for ((d, f, text) <- Seq(
        ("a", "x.json", """[{"Title":"A","Corpus":"body a"}]"""),
        ("b", "y.json", """{"title":"B","content":"body b"}"""),
        ("c", "notes.txt", "no json here"))) {
      new java.io.File(s"$in/$d").mkdirs()
      Files.writeString(java.nio.file.Path.of(s"$in/$d/$f"), text)
    }
    // jobs are tagged by a thread-local property; a marker job after the
    // publish arrives after all of its jobs (listener delivery is ordered)
    val tags = new LinkedBlockingQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("publish.spec.tag")))
          .foreach(tags.put)
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty("publish.spec.tag", "publish")
      // the per-source stats are left uncollected: the publish is the write
      JsonlPublish.run(spark, Seq("a", "b", "c").map(d => s"$in/$d"), tmp() + "/out",
        runDate = "2026-01-01")
      sc.setLocalProperty("publish.spec.tag", "marker")
      sc.parallelize(Seq(1), 1).count()
      def next() = tags.poll(30, TimeUnit.SECONDS)
      var jobs = 0
      var tag = next()
      while (tag == "publish") { jobs += 1; tag = next() }
      assert(tag == "marker", "the marker job never reached the listener")
      assert(jobs == 1, s"the publish started $jobs jobs")
    } finally {
      sc.setLocalProperty("publish.spec.tag", null)
      sc.removeSparkListener(listener)
    }
  }

  test("quarantine split routes rows to ok/failed sinks") {
    val df = Seq((1, true), (2, false), (3, true)).toDF("id", "ok")
    val base = tmp()
    val (nOk, nBad) = Sinks.quarantineSplit(df, col("ok"),
      s"$base/ok", s"$base/failed")
    assert(nOk == 2 && nBad == 1)
    assert(spark.read.json(s"$base/ok").count() == 2)
    assert(spark.read.json(s"$base/failed").count() == 1)
  }

  test("recursive json source retains file identity and sorts deterministically") {
    val in = tmp()
    new java.io.File(s"$in/sub").mkdirs()
    Files.writeString(java.nio.file.Path.of(s"$in/z.json"), """{"v":1}""")
    Files.writeString(java.nio.file.Path.of(s"$in/sub/a.json"), """{"v":2}""")
    val df = Sources.jsonRecords(spark, Seq(in))
    assert(df.count() == 2)
    val files = df.select("src_file").as[String].collect()
    assert(files.forall(_.endsWith(".json")))
  }
}

object PipelinesSpec {
  /** A converter that counts its calls, to show how often a batch is
    * converted. */
  class CountingConverter(calls: org.apache.spark.util.LongAccumulator)
      extends PdfPipeline.Converter {
    def convert(path: String, content: Array[Byte]): String = {
      calls.add(1)
      PdfPipeline.TextBytesConverter.convert(path, content)
    }
  }
}
