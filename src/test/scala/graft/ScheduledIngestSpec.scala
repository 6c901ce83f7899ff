package graft

import java.io.IOException
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath, RawLocalFileSystem}
import org.scalatest.concurrent.{Signaler, ThreadSignaler, TimeLimits}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.catalyst.plans.QueryPlan
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.util.QueryExecutionListener

import graft.streaming.ScheduledIngest

/** The daily-trigger daemon (scheduler.py:116-123 as Structured
  * Streaming): two trigger ticks over a landing directory must show
  * delta-only processing — a re-scraped record is a no-op on tick 2 —
  * and the manual-review quarantine split (S10). */
class ScheduledIngestSpec extends AnyFunSuite with TimeLimits {
  lazy val spark = TestSpark.spark

  private def rec(url: String, title: String, text: String): String =
    s"""{"url":"$url","title":"$title","description":"d","date":"01/15/2024","text":"$text"}"""

  private val longText = ("fda approves new therapy for treatment of patients " * 4).trim

  /** A tick's `Observation`s must live on the stream's own session: one
    * leaves its session unserializable, which fails any later task that
    * ships the caller's session (a fitted LogisticRegressionModel's
    * training summary holds it). */
  private def assertCallerSessionShippable(): Unit =
    new java.io.ObjectOutputStream(new java.io.ByteArrayOutputStream()).writeObject(spark)

  test("two ticks: delta-only processing + quarantine split") {
    val root = Files.createTempDirectory("graft_sched")
    def dir(n: String): String = { val p = root.resolve(n); Files.createDirectories(p); p.toString }
    val incoming = dir("incoming")
    val masterDir = s"$root/master"
    val publish = dir("publish")
    val quarantine = dir("quarantine")
    val checkpoint = s"$root/ckpt"

    val ticks = new java.util.concurrent.ConcurrentLinkedQueue[ScheduledIngest.Tick]()
    // tick 1 landing file: one publishable record + one too-short one
    Files.writeString(Path.of(incoming, "scrape1.json"),
      rec("https://x/1", "Drug A", longText) + "\n" +
      rec("https://x/2", "Drug B", "too short") + "\n")

    val xlsxPath = s"$root/master.xlsx"
    val q = ScheduledIngest.start(spark, incoming, masterDir, publish,
      quarantine, checkpoint,
      trigger = Trigger.ProcessingTime("500 milliseconds"),
      runDateOf = _ => "2026-01-01",
      masterXlsxPath = Some(xlsxPath),
      onTick = ticks.add(_))
    try {
      def waitTicks(n: Int): Unit = {
        val deadline = System.nanoTime() + 60L * 1000000000L
        while (ticks.size < n && System.nanoTime() < deadline) Thread.sleep(100)
        assert(ticks.size >= n, s"stream produced ${ticks.size} ticks, wanted $n")
      }
      waitTicks(1)
      val t1 = ticks.peek()
      assert(t1.nFresh == 2 && t1.nPublished == 1 && t1.nQuarantined == 1)
      assert(t1.nMaster == 1) // quarantined record NOT entered into master

      // tick 2 landing file: Drug A RE-SCRAPED (same url/title/date →
      // same fingerprint → no-op) plus one genuinely new record
      Files.writeString(Path.of(incoming, "scrape2.json"),
        rec("https://x/1", "Drug A", longText) + "\n" +
        rec("https://x/3", "Drug C", longText) + "\n")
      waitTicks(2)
      val t2 = ticks.toArray(Array.empty[ScheduledIngest.Tick]).last
      assert(t2.nFresh == 2)
      assert(t2.nPublished == 1, s"re-scrape must be a no-op: $t2")
      assert(t2.nQuarantined == 0)
      assert(t2.nMaster == 2) // Drug A + Drug C, exactly once each

      // the published stream holds each record once across both ticks
      val pub = spark.read.json(publish)
      assert(pub.count() == 2)
      assert(pub.select("title").as[String](org.apache.spark.sql.Encoders.STRING)
        .collect().toSet == Set("Drug A", "Drug C"))
      // quarantine batch 0 carries the short record for manual review
      val quar = spark.read.json(s"$quarantine/batch=0")
      assert(quar.select("title").as[String](org.apache.spark.sql.Encoders.STRING)
        .collect().toSet == Set("Drug B"))
      // the human-facing Excel master tracked the ticks (reference
      // fda_watcher.py:555) — reads back with the final master content
      val xl = graft.sources.Xlsx.readMaster(spark, xlsxPath)
      assert(xl.count() == 2)
      assert(xl.select("title").as[String](org.apache.spark.sql.Encoders.STRING)
        .collect().toSet == Set("Drug A", "Drug C"))

      // crash-window recovery: simulate a death between the swap's two
      // renames (masterDir gone, a COMPLETE .next beside it) — a fresh
      // daemon must recover the master, so a re-scrape stays a no-op
      q.stop()
      assert(new java.io.File(masterDir)
        .renameTo(new java.io.File(s"$masterDir.next")))
      Files.writeString(Path.of(incoming, "scrape3.json"),
        rec("https://x/1", "Drug A", longText) + "\n")
      val q2 = ScheduledIngest.start(spark, incoming, masterDir, publish,
        quarantine, s"$root/ckpt2_all",
        trigger = Trigger.ProcessingTime("500 milliseconds"),
        runDateOf = _ => "2026-01-02",
        onTick = ticks.add(_))
      try {
        waitTicks(3)
        val t3 = ticks.toArray(Array.empty[ScheduledIngest.Tick]).last
        // fresh checkpoint re-reads ALL landing files (3 records of which
        // 1 is the quarantine-eligible short one); the recovered master
        // makes every previously-published record a no-op
        assert(t3.nPublished == 0, s"master not recovered: $t3")
        assert(t3.nMaster == 2)
      } finally q2.stop()
    } finally {
      q.stop()
      scala.reflect.io.Directory(root.toFile).deleteRecursively()
    }
  }

  test("startHtml: DSv2-fronted lifecycle — parse new pages, detail join, " +
      "publish + quarantine + xlsx master per tick, delta on tick 2") {
    val root = Files.createTempDirectory("graft_sched_html")
    def dir(n: String): String = { val p = root.resolve(n); Files.createDirectories(p); p.toString }
    val pages = dir("pages")
    val details = dir("details")
    val masterDir = s"$root/master"
    val publish = dir("publish")
    val quarantine = dir("quarantine")
    val xlsxPath = s"$root/master.xlsx"

    def page(rows: (String, String, String)*): String =
      "<html><body><table>" +
        "<tr><th>Title</th><th>Desc</th><th>Date</th></tr>" +
        rows.map { case (href, title, date) =>
          s"""<tr><td><a href="$href">$title</a></td><td>d</td><td>$date</td></tr>"""
        }.mkString +
        "</table></body></html>"

    // detail text fetched for Drug A only — Drug B's missing detail page
    // must rout its row to quarantine (null text fails the corpus gate)
    Files.writeString(Path.of(details, "fetched1.json"),
      s"""{"url":"https://www.fda.gov/node/1","text":"$longText"}""" + "\n")
    Files.writeString(Path.of(pages, "listing1.html"),
      page(("/node/1", "Drug A", "01/15/2024"), ("/node/2", "Drug B", "01/16/2024")))

    val ticks = new java.util.concurrent.ConcurrentLinkedQueue[ScheduledIngest.Tick]()
    val q = ScheduledIngest.startHtml(spark, pages, details, masterDir,
      publish, quarantine, s"$root/ckpt",
      trigger = Trigger.ProcessingTime("500 milliseconds"),
      runDateOf = _ => "2026-01-01",
      baseDomain = "https://www.fda.gov/",
      masterXlsxPath = Some(xlsxPath),
      onTick = ticks.add(_))
    try {
      def waitTicks(n: Int): Unit = {
        val deadline = System.nanoTime() + 60L * 1000000000L
        while (ticks.size < n && System.nanoTime() < deadline) Thread.sleep(100)
        assert(ticks.size >= n, s"stream produced ${ticks.size} ticks, wanted $n")
      }
      waitTicks(1)
      val t1 = ticks.peek()
      assert(t1.nFresh == 2 && t1.nPublished == 1 && t1.nQuarantined == 1)
      assert(t1.nMaster == 1)
      val quar = spark.read.json(quarantine)
      assert(quar.select("title").as[String](org.apache.spark.sql.Encoders.STRING)
        .collect().toSet == Set("Drug B"))

      // tick 2: a new listing page re-lists Drug A (same url/title/date →
      // fingerprint no-op) and adds Drug C, whose detail text has been
      // fetched meanwhile — TWICE (append-only re-fetch), and a second
      // page in the SAME trigger window lists Drug C again: neither
      // duplication may fan out into duplicate published/master rows
      Files.writeString(Path.of(details, "fetched2.json"),
        s"""{"url":"https://www.fda.gov/node/3","text":"$longText"}""" + "\n" +
        s"""{"url":"https://www.fda.gov/node/3","text":"$longText extra"}""" + "\n")
      Files.writeString(Path.of(pages, "listing2.html"),
        page(("/node/1", "Drug A", "01/15/2024"), ("/node/3", "Drug C", "01/17/2024")))
      Files.writeString(Path.of(pages, "listing2b.html"),
        page(("/node/3", "Drug C", "01/17/2024")))
      waitTicks(2)
      val t2 = ticks.toArray(Array.empty[ScheduledIngest.Tick]).last
      assert(t2.nFresh == 2)
      assert(t2.nPublished == 1, s"re-listed row must be a no-op: $t2")
      assert(t2.nMaster == 2)

      val pub = spark.read.json(publish)
      assert(pub.select("title").as[String](org.apache.spark.sql.Encoders.STRING)
        .collect().toSet == Set("Drug A", "Drug C"))
      val xl = graft.sources.Xlsx.readMaster(spark, xlsxPath)
      assert(xl.select("title").as[String](org.apache.spark.sql.Encoders.STRING)
        .collect().toSet == Set("Drug A", "Drug C"))
      assertCallerSessionShippable()
    } finally {
      q.stop()
      scala.reflect.io.Directory(root.toFile).deleteRecursively()
    }
  }

  import Plans.nodes

  private def cleans(p: QueryPlan[_]): Boolean =
    p.expressions.exists(_.exists(_.isInstanceOf[graft.expr.CleanCorpusExpr]))

  test("a tick cleans each delta record once, above the anti-join, and pins nothing") {
    val root = Files.createTempDirectory("graft_sched_once")
    def dir(n: String): String = { val p = root.resolve(n); Files.createDirectories(p); p.toString }
    val incoming = dir("incoming")
    val masterDir = s"$root/master"

    // (executed plan, is a marker) in delivery order; the stream runs on
    // a clone of the session, which copies the listener when created
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[(SparkPlan, Boolean)]()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        plans.add((qe.executedPlan, nodes(qe.executedPlan).exists(
          _.isInstanceOf[org.apache.spark.sql.execution.RangeExec])))
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    // listener delivery is async but ordered: a marker query run after a
    // tick arrives after all of that tick's plans
    def drain(): List[SparkPlan] = {
      spark.range(1).collect()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!plans.iterator.asScala.exists(_._2) && System.nanoTime() < deadline)
        Thread.sleep(100)
      val out = List.newBuilder[SparkPlan]
      var marked = false
      while (!marked && !plans.isEmpty) {
        val (p, m) = plans.poll()
        if (m) marked = true else out += p
      }
      assert(marked, "marker query never reached the listener")
      out.result()
    }
    val rddsBefore = spark.sparkContext.getPersistentRDDs.keySet
    val cacheWasEmpty = spark.sharedState.cacheManager.isEmpty

    val ticks = new java.util.concurrent.ConcurrentLinkedQueue[ScheduledIngest.Tick]()
    Files.writeString(Path.of(incoming, "scrape1.json"),
      rec("https://x/1", "Drug A", longText) + "\n")
    val q = ScheduledIngest.start(spark, incoming, masterDir, dir("publish"),
      dir("quarantine"), s"$root/ckpt",
      trigger = Trigger.ProcessingTime("500 milliseconds"),
      runDateOf = _ => "2026-01-01",
      onTick = ticks.add(_))
    try {
      def waitTicks(n: Int): Unit = {
        val deadline = System.nanoTime() + 60L * 1000000000L
        while (ticks.size < n && System.nanoTime() < deadline) Thread.sleep(100)
        assert(ticks.size >= n, s"stream produced ${ticks.size} ticks, wanted $n")
      }
      waitTicks(1)
      drain()
      // tick 2 runs against a non-empty master (an empty one removes the
      // join): a re-landed known record, a new passing and a new failing one
      Files.writeString(Path.of(incoming, "scrape2.json"),
        rec("https://x/1", "Drug A", longText) + "\n" +
        rec("https://x/3", "Drug C", longText) + "\n" +
        rec("https://x/4", "Drug D", "too short") + "\n")
      waitTicks(2)
      val t2 = ticks.toArray(Array.empty[ScheduledIngest.Tick]).last
      assert((t2.nFresh, t2.nPublished, t2.nQuarantined, t2.nMaster) == (3, 1, 1, 2))
      val tick2 = drain()
      val shown = tick2.mkString("\n---\n")
      assert(tick2.exists(p => nodes(p).exists(_.isInstanceOf[BaseJoinExec])), shown)
      for (p <- tick2; j <- nodes(p) if j.isInstanceOf[BaseJoinExec])
        assert(!nodes(j).exists(cleans), s"clean_corpus below a join:\n$p")
      assert(tick2.count(p => nodes(p).exists(cleans)) == 1, shown)

      // the tick's cut is released in its `finally`, just after `onTick`
      val deadline = System.nanoTime() + 30L * 1000000000L
      while ((spark.sparkContext.getPersistentRDDs.keySet -- rddsBefore).nonEmpty &&
        System.nanoTime() < deadline) Thread.sleep(100)
      assert((spark.sparkContext.getPersistentRDDs.keySet -- rddsBefore).isEmpty)
      assert(!cacheWasEmpty || spark.sharedState.cacheManager.isEmpty)
    } finally {
      q.stop()
      spark.listenerManager.unregister(listener)
      scala.reflect.io.Directory(root.toFile).deleteRecursively()
    }
  }

  /** A local FS that refuses the renames `refused` picks: nothing moves
    * and `rename` returns false, as a full or read-only store reports. */
  private class RefusingRenameFs(refused: HPath => Boolean) extends RawLocalFileSystem {
    initialize(java.net.URI.create("file:///"), new Configuration())
    override def rename(src: HPath, dst: HPath): Boolean =
      !refused(dst) && super.rename(src, dst)
  }

  test("master swap: a refused rename fails the tick, never nests .next in the master") {
    val root = Files.createTempDirectory("graft_swap")
    def complete(d: String): HPath = {
      Files.createDirectories(root.resolve(d))
      Files.writeString(root.resolve(d).resolve("_SUCCESS"), "")
      new HPath(root.resolve(d).toString)
    }
    try {
      val master = complete("master")
      val next = complete("master.next")
      // master → .old refused: an unchecked swap would go on to move
      // .next INSIDE the live master, and reads would keep the old rows
      val fs = new RefusingRenameFs(_.getName.endsWith(".old"))
      val e = intercept[IOException](ScheduledIngest.swapDirs(fs, master))
      assert(e.getMessage.contains(s"$master -> ${master.suffix(".old")}"), e.getMessage)
      assert(fs.exists(new HPath(next, "_SUCCESS")))
      assert(!fs.exists(new HPath(master, "master.next")))

      // recovery from a complete .next with the master gone: a refused
      // rename throws instead of loading from an empty master
      fs.delete(master, true)
      val e2 = intercept[IOException](
        ScheduledIngest.recoverMaster(new RefusingRenameFs(_ => true), master))
      assert(e2.getMessage.contains(s"$next -> $master"), e2.getMessage)
      // an accepting FS recovers it
      ScheduledIngest.recoverMaster(fs, master)
      assert(fs.exists(new HPath(master, "_SUCCESS")) && !fs.exists(next))
    } finally scala.reflect.io.Directory(root.toFile).deleteRecursively()
  }

  /** One landing dir, master and outputs, driven one `AvailableNow`
    * trigger at a time over a shared checkpoint: each [[tick]] processes
    * exactly the files landed since the previous one. */
  private class Daemon(root: Path) {
    private def dir(n: String): String = { val p = root.resolve(n); Files.createDirectories(p); p.toString }
    val incoming: String = dir("incoming")
    val master = s"$root/master"
    val publish: String = dir("publish")
    val quarantine: String = dir("quarantine")
    private var landed = 0

    def land(records: String*): Unit = {
      landed += 1
      Files.writeString(Path.of(incoming, s"scrape$landed.json"), records.mkString("", "\n", "\n"))
    }

    /** Runs one trigger; an `Observation` whose metric never arrives would
      * block the tick forever, so the wait is bounded and interrupts. */
    def tick(): ScheduledIngest.Tick = {
      val last = new java.util.concurrent.atomic.AtomicReference[ScheduledIngest.Tick]()
      val q = ScheduledIngest.start(spark, incoming, master, publish, quarantine,
        s"$root/ckpt", Trigger.AvailableNow(), runDateOf = _ => "2026-01-01",
        onTick = last.set(_))
      implicit val signaler: Signaler = ThreadSignaler
      try failAfter(90.seconds)(q.awaitTermination()) finally q.stop()
      q.exception.foreach(e => throw e)
      assert(last.get != null, "the trigger ran no batch")
      last.get
    }

    /** What `t` wrote, recounted from its outputs and its landing file. */
    def recount(t: ScheduledIngest.Tick): ScheduledIngest.Tick = ScheduledIngest.Tick(t.batchId,
      spark.read.text(Path.of(incoming, s"scrape$landed.json").toString).count(),
      spark.read.text(s"$publish/batch=${t.batchId}").count(),
      spark.read.text(s"$quarantine/batch=${t.batchId}").count(),
      spark.read.parquet(master).count())
  }

  test("a tick against a non-empty master runs at most 5 jobs, and each Tick " +
      "count is what the tick wrote") {
    val root = Files.createTempDirectory("graft_sched_jobs")
    val d = new Daemon(root)
    // jobs are tagged by an inherited thread-local property (the stream's
    // thread is started under the tag); a marker job after the tick
    // arrives after all of its jobs (listener delivery is ordered)
    val tags = new java.util.concurrent.LinkedBlockingQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("tick.spec.tag")))
          .foreach(tags.put)
    }
    val sc = spark.sparkContext
    try {
      d.land(rec("https://x/1", "Drug A", longText), rec("https://x/2", "Drug B", longText))
      d.tick()
      d.land(rec("https://x/1", "Drug A", longText), rec("https://x/3", "Drug C", longText),
        rec("https://x/4", "Drug D", "too short"))
      sc.addSparkListener(listener)
      sc.setLocalProperty("tick.spec.tag", "tick")
      val t = d.tick()
      sc.setLocalProperty("tick.spec.tag", "marker")
      sc.parallelize(Seq(1), 1).count()
      def next() = tags.poll(30, java.util.concurrent.TimeUnit.SECONDS)
      var jobs = 0
      var tag = next()
      while (tag == "tick") { jobs += 1; tag = next() }
      assert(tag == "marker", "the marker job never reached the listener")
      assert(jobs <= 5, s"the tick started $jobs jobs")

      assert((t.nFresh, t.nPublished, t.nQuarantined, t.nMaster) == (3, 1, 1, 3))
      assert(d.recount(t) == t)
      assertCallerSessionShippable()
    } finally {
      sc.setLocalProperty("tick.spec.tag", null)
      sc.removeSparkListener(listener)
      scala.reflect.io.Directory(root.toFile).deleteRecursively()
    }
  }

  test("ticks whose writes are empty still report their zero counts") {
    val root = Files.createTempDirectory("graft_sched_empty")
    val d = new Daemon(root)
    try {
      // every record too short: nothing published, an empty master written
      d.land(rec("https://x/1", "Drug A", "too short"), rec("https://x/2", "Drug B", "short"))
      val t0 = d.tick()
      assert((t0.nFresh, t0.nPublished, t0.nQuarantined, t0.nMaster) == (2, 0, 2, 0))
      assert(d.recount(t0) == t0)
      d.land(rec("https://x/3", "Drug C", longText), rec("https://x/4", "Drug D", longText))
      d.tick()
      // every record already in the master: an empty delta
      d.land(rec("https://x/3", "Drug C", longText), rec("https://x/4", "Drug D", longText))
      val t2 = d.tick()
      assert((t2.nFresh, t2.nPublished, t2.nQuarantined, t2.nMaster) == (2, 0, 0, 2))
      assert(d.recount(t2) == t2)
    } finally scala.reflect.io.Directory(root.toFile).deleteRecursively()
  }
}
