package perfbench

import java.io.{OutputStream, PrintStream}
import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{GraftSession, Run, SparkEntry, Tables}

/** The benchmark harness: one JVM runs one workload, one item at a time
  * (a closed loop with one client), and writes a result file.
  *
  * An item is a registered query (`SparkEntry.queries`), timed from the
  * builder call through a `noop`-sink write of the whole result, or a
  * stored job document (`doc:<name>`), timed through
  * `graft.Run.execute` `validate`, `run --history` and `status`.
  *
  * Untraced run: one set-up, timed from process start; the cold pass
  * straight after it; the host probe (its first call untimed, as in
  * `graft.Bench`); the untimed output check of every item (which is
  * also the warm-up); timed warm passes until `--seconds` have gone by
  * (at least `minPasses`); the probe again. Traced run: the same up to
  * the output check, then two untraced and two traced warm passes,
  * alternating, and a `count()`-versus-`noop` comparison of every
  * query. The traced passes time each layer's entry points from here
  * and read Spark's own listener events; the untraced passes register
  * no listener at all.
  *
  * Arguments: --workload --seed --seconds --trace --data --spec
  * --expected --work --out --t0-ms [--mode bench|dump].
  * `dump` runs every item once and writes its output under `--work`,
  * for `derive_expected.py`.
  */
object Main {
  private val cores = 4
  private val json = new ObjectMapper()

  final case class Opts(m: Map[String, String]) {
    def apply(k: String): String = m.getOrElse(k, sys.error(s"missing --$k"))
    def get(k: String): Option[String] = m.get(k)
  }

  sealed trait Item { def name: String }
  final case class Query(name: String) extends Item
  final case class Doc(name: String, template: String) extends Item

  final case class Sample(item: String, sec: Double, err: Option[String])
  final case class DocRun(validateS: Double, runS: Double, statusS: Double, sink: String)

  def main(argv: Array[String]): Unit = {
    val o = Opts(argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap)
    val spec = json.readTree(Files.readString(Paths.get(o("spec")))).get(o("workload"))
    require(spec != null, s"unknown workload ${o("workload")}")
    val data = o("data")
    val work = o("work")
    val docDir = Paths.get(o("spec")).getParent.resolve("docs")
    val items: Seq[Item] = spec.get("items").elements().asScala.map(_.asText()).toSeq.map { n =>
      if (n.startsWith("doc:")) Doc(n, Files.readString(docDir.resolve(n.stripPrefix("doc:") + ".json")))
      else {
        require(SparkEntry.queries.contains(n), s"unregistered query $n")
        Query(n)
      }
    }
    val h = new Harness(data, work, items)
    o.get("mode") match {
      case Some("dump") => h.dump(n => spec.path("oracle_of").path(n).asText(n))
      case _ =>
        val res = h.bench(o("seed").toLong, o("seconds").toDouble, o("trace") == "1",
          o("t0-ms").toLong, json.readTree(Files.readString(Paths.get(o("expected")))))
        Files.writeString(Paths.get(o("out")), json.writerWithDefaultPrettyPrinter().writeValueAsString(res))
    }
    h.stop()
  }

  /** Heap occupancy after each full collection, from the collectors'
    * notifications. Only full collections count: a young collection
    * leaves the old generation's garbage in place, so its "after"
    * figure depends on when the last full one ran. `releaseAll`'s
    * `System.gc()` gives one full collection between every two items. */
  object Heap {
    @volatile var active = false
    val peak = new AtomicLong(0)
    private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet

    def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case em: javax.management.NotificationEmitter =>
        em.addNotificationListener((n: javax.management.Notification, _: AnyRef) => {
          if (active && n.getType ==
              com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = com.sun.management.GarbageCollectionNotificationInfo.from(
              n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
            if (info.getGcAction == "end of major GC") {
              val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
                .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
              peak.accumulateAndGet(used, (a, b) => math.max(a, b))
            }
          }
        }, null, null)
      case _ => ()
    }
  }

  private val devNull = new PrintStream(OutputStream.nullOutputStream())

  /** Order-independent content digest of a frame: row count, column
    * names and the sum of every row's xxhash64 (map-typed columns,
    * which Spark cannot hash, go through `to_json` first). */
  def digest(df: DataFrame): (Long, String, String) = {
    def hasMap(t: DataType): Boolean = t match {
      case _: MapType => true
      case a: ArrayType => hasMap(a.elementType)
      case s: StructType => s.fields.exists(f => hasMap(f.dataType))
      case _ => false
    }
    val cols = df.schema.fields.toSeq.map { f =>
      val c = col("`" + f.name.replace("`", "``") + "`")
      if (hasMap(f.dataType)) to_json(c) else c
    }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = df.agg(count(lit(1)), sum(h.cast(DecimalType(38, 0)))).head()
    val hash = Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0")
    (r.getLong(0), hash, df.schema.fieldNames.mkString(","))
  }

  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    s(math.min(s.size - 1, math.max(0, math.ceil(p / 100.0 * s.size).toInt - 1)))
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  final class Harness(data: String, work: String, items: Seq[Item]) {
    private var spark: SparkSession = _
    private var inputRows = 0L

    /** Session ready and every input table resolved (its rows counted). */
    def setup(): Unit = {
      spark = GraftSession.builder(s"local[$cores]", cores).getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      inputRows = Tables.names.map(n => Tables.load(spark, data, n).count()).sum
    }

    def stop(): Unit = if (spark != null) spark.stop()

    /** `graft.Bench`'s fixed-work host probe: an xxhash64 chain over 1e8
      * rows at four slices. */
    def probe(): Double = {
      val t0 = System.nanoTime()
      val chained = (1 to 6).foldLeft(col("id"))((c, _) => xxhash64(c))
      spark.range(0L, 100000000L, 1L, cores).select(sum(pmod(chained, lit(1000000L)))).head()
      (System.nanoTime() - t0) / 1e9
    }

    private var docRuns = 0

    /** validate, run with history, status — each must exit 0. Every
      * execution gets a fresh output and history directory. */
    def runDoc(d: Doc): DocRun = {
      docRuns += 1
      val out = Files.createDirectories(Paths.get(work, "docs", s"$docRuns")).toString
      val path = Paths.get(out, "doc.json")
      Files.writeString(path, d.template.replace("@DATA@", data).replace("@OUT@", out))
      def verb(args: String*): Double = {
        val t0 = System.nanoTime()
        val code = Run.execute(spark, args, devNull)
        require(code == 0, s"graft.Run ${args.head} exited $code")
        (System.nanoTime() - t0) / 1e9
      }
      val v = verb("validate", path.toString)
      val r = verb("run", path.toString, "--history", s"$out/history", "--run-id", "bench")
      val s = verb("status", "--history", s"$out/history")
      DocRun(v, r, s, s"$out/sink")
    }

    def frame(q: Query): DataFrame = SparkEntry.queries(q.name)(spark, data)

    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

    /** One untraced execution. */
    def once(it: Item): Unit = it match {
      case q: Query => noop(frame(q))
      case d: Doc => runDoc(d); ()
    }

    private def errText(e: Throwable): String =
      Option(e.getMessage).getOrElse(e.getClass.getName).linesIterator.take(1).mkString.take(300)

    /** One pass in the given order; returns (wall seconds, samples). */
    def pass(order: Seq[Item]): (Double, Seq[Sample]) = {
      val p0 = System.nanoTime()
      val samples = order.map { it =>
        GraftSession.releaseAll(spark)
        spark.sparkContext.setJobDescription(it.name)
        val t0 = System.nanoTime()
        val err = try { once(it); None } catch { case e: Throwable => Some(errText(e)) }
        Sample(it.name, (System.nanoTime() - t0) / 1e9, err)
      }
      ((System.nanoTime() - p0) / 1e9, samples)
    }

    /** One traced pass: each layer's entry points timed from here, and
      * Spark's listener counters for the pass. */
    def tracedPass(order: Seq[Item], tr: Trace): (Double, Seq[Sample], Map[String, Double]) = {
      tr.reset()
      val t = mutable.Map[String, Double]().withDefaultValue(0.0)
      val buildWindows = mutable.ArrayBuffer[(Long, Long)]()
      val itemWindows = mutable.ArrayBuffer[(Long, Long)]()
      val p0 = System.nanoTime()
      val samples = order.map { it =>
        val r0 = System.nanoTime()
        GraftSession.releaseAll(spark)
        t("session.release_s") += (System.nanoTime() - r0) / 1e9
        spark.sparkContext.setJobDescription(it.name)
        val w0 = System.currentTimeMillis()
        val t0 = System.nanoTime()
        val err = try {
          it match {
            case q: Query =>
              val b0 = System.currentTimeMillis()
              val df = frame(q)
              val b1 = System.currentTimeMillis()
              val t1 = System.nanoTime()
              buildWindows += ((b0, b1))
              t("build.s") += (t1 - t0) / 1e9
              tr.phases(df.queryExecution)
              noop(df)
              t("write.s") += (System.nanoTime() - t1) / 1e9
            case d: Doc =>
              val r = runDoc(d)
              t("pipeline.validate_s") += r.validateS
              t("pipeline.run_s") += r.runS
              t("monitoring.status_s") += r.statusS
          }
          None
        } catch { case e: Throwable => Some(errText(e)) }
        val sec = (System.nanoTime() - t0) / 1e9
        itemWindows += ((w0, System.currentTimeMillis()))
        Sample(it.name, sec, err)
      }
      val wall = (System.nanoTime() - p0) / 1e9
      org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
      val jobs = tr.jobIntervals
      t("build.jobs") = jobs.count { case (s, _) => buildWindows.exists { case (b0, b1) => s >= b0 && s <= b1 } }
      t("sched.driver_gap_s") = itemWindows.map { case (a, b) => Trace.uncovered(a, b, jobs) }.sum / 1e3
      val counters = tr.snapshot()
      val m = t.toMap ++ counters +
        ("exec.busy_frac" -> counters.getOrElse("exec.run_s", 0.0) / (wall * cores))
      (wall, samples, m)
    }

    /** Items whose output differs from the expected digest, with why. */
    def check(order: Seq[Item], expected: JsonNode): mutable.LinkedHashMap[String, String] = {
      val mismatches = mutable.LinkedHashMap[String, String]()
      order.foreach { it =>
        val exp = expected.get(it.name)
        content(it) match {
          case Left(err) => mismatches(it.name) = s"error: $err"
          case Right((rows, hash, cols)) =>
            if (exp == null) mismatches(it.name) = "no expected value"
            else if (exp.get("rows").asLong != rows || exp.get("hash").asText != hash ||
                exp.get("cols").asText != cols)
              mismatches(it.name) = s"got rows=$rows hash=$hash cols=$cols, expected $exp"
        }
      }
      mismatches
    }

    /** (rows, hash, columns) of an item's output, or an error. */
    def content(it: Item): Either[String, (Long, String, String)] = {
      GraftSession.releaseAll(spark)
      try Right(it match {
        case q: Query => digest(frame(q))
        case d: Doc => digest(spark.read.parquet(runDoc(d).sink))
      }) catch { case e: Throwable => Left(errText(e)) }
    }

    def dump(oracleOf: String => String): Unit = {
      setup()
      val out = json.createObjectNode()
      val oracle = json.createObjectNode()
      items.foreach { it =>
        GraftSession.releaseAll(spark)
        val df = it match {
          case q: Query => frame(q)
          case d: Doc => spark.read.parquet(runDoc(d).sink)
        }
        // oracle_sql.json is keyed by the dump directory, the layout
        // tools/check_oracle.py reads
        val dir = it.name.replace(':', '_')
        df.write.mode("overwrite").parquet(s"$work/dump/$dir")
        val (rows, hash, cols) = digest(df)
        out.putObject(it.name).put("rows", rows).put("hash", hash).put("cols", cols)
        SparkEntry.oracleSql.get(oracleOf(it.name)).foreach(sql => oracle.put(dir, sql))
      }
      Files.writeString(Paths.get(work, "dump", "digests.json"), json.writeValueAsString(out))
      Files.writeString(Paths.get(work, "dump", "oracle_sql.json"), json.writeValueAsString(oracle))
    }

    /** Timed warm passes per run: at least four, and enough for more than
      * 20 samples, so that the tail percentile lies above the median with
      * ten samples beyond it. With three passes on ten items the tail
      * sample fell between two items' time ranges and spread by a fifth
      * from run to run. */
    val minPasses: Int = math.max(4, (21 + items.size - 1) / items.size)

    def bench(seed: Long, seconds: Double, traced: Boolean, t0Ms: Long,
              expected: JsonNode): ObjectNode = {
      val rng = new scala.util.Random(seed)
      def order(): Seq[Item] = rng.shuffle(items)
      // the set-up a scheduler-launched job pays: JVM start included
      setup()
      val setupS = (System.currentTimeMillis() - t0Ms) / 1e3
      Heap.install()
      Heap.active = true
      val (coldWall, coldSamples) = pass(order())
      Heap.active = false
      probe() // the probe's own codegen warm-up, untimed
      val probeBefore = probe()
      // the output check runs between the cold and the timed passes: it
      // is untimed, and it doubles as the warm-up the first warm pass
      // would otherwise still need (JIT and codegen caches filling)
      val mismatches = check(order(), expected)
      Heap.active = true
      val warm = mutable.ArrayBuffer[(Double, Seq[Sample])]()
      val traceLayers = mutable.ArrayBuffer[Map[String, Double]]()
      val tracedWalls = mutable.ArrayBuffer[Double]()
      if (!traced) {
        val w0 = System.nanoTime()
        while (warm.size < minPasses || (System.nanoTime() - w0) / 1e9 < seconds) warm += pass(order())
      } else {
        val tr = new Trace
        val sc = spark.sparkContext
        for (_ <- 1 to 2) {
          warm += pass(order())
          sc.addSparkListener(tr); spark.listenerManager.register(tr.planning)
          spark.streams.addListener(tr.streaming)
          val (w, s, layers) = tracedPass(order(), tr)
          org.apache.spark.perfbench.Bus.drain(sc)
          sc.removeSparkListener(tr); spark.listenerManager.unregister(tr.planning)
          spark.streams.removeListener(tr.streaming)
          tracedWalls += w; traceLayers += layers
          warm += ((w, s)) // counted for failures only; walls kept apart
        }
      }
      Heap.active = false

      val countVsNoop = if (traced) compareCount() else Seq.empty
      val probeAfter = probe()

      val untracedWarm = if (traced) warm.zipWithIndex.collect { case (w, i) if i % 2 == 0 => w } else warm
      val allSamples = coldSamples ++ warm.flatMap(_._2)
      val errors = allSamples.filter(_.err.isDefined)
      val attempted = allSamples.size + items.size
      val failed = errors.size + mismatches.size
      val warmOk = untracedWarm.flatMap(_._2).filter(_.err.isEmpty).map(_.sec)
      val walls = untracedWarm.map(_._1)
      val wall = median(walls.toSeq)
      // the highest whole percentile with at least ten samples beyond it,
      // fixed from the workload's minimum sample count so that every run
      // reports the same percentile
      val tailP = math.floor(100.0 * (1 - 10.0 / (minPasses * items.size)))
      val e2e = Seq(
        ("setup_s", setupS, "s"),
        ("cold_wall_s", coldWall, "s"),
        ("wall_s", wall, "s"),
        ("query_p50_s", median(warmOk.toSeq), "s"),
        ("query_tail_s", percentile(warmOk.toSeq, tailP), "s"),
        ("rows_per_s", inputRows / wall, "rows/s"),
        ("failed_frac", failed.toDouble / attempted, "ratio"),
        ("heap_peak_mb", Heap.peak.get / 1048576.0, "MB"))

      val res = json.createObjectNode()
      res.put("correct", mismatches.isEmpty && errors.isEmpty)
      res.put("attempted", attempted)
      res.put("failed", failed)
      val e = res.putObject("end_to_end")
      e2e.foreach { case (k, v, u) => e.putObject(k).put("value", v).put("unit", u) }
      if (traced) {
        val l = res.putObject("per_layer")
        val keys = traceLayers.flatMap(_.keys).distinct.sorted
        keys.foreach(k => l.put(k, traceLayers.map(_.getOrElse(k, 0.0)).sum / traceLayers.size))
        l.put("trace.overhead_frac", median(tracedWalls.toSeq) / median(walls.toSeq) - 1)
        l.put("trace.count_noop_gt2x", countVsNoop.count { case (_, n, c) => n > 2 * c || c > 2 * n })
        l.put("failed_frac", failed.toDouble / attempted)
        val cv = res.putArray("count_vs_noop")
        countVsNoop.foreach { case (q, n, c) =>
          cv.addObject().put("query", q).put("noop_s", n).put("count_s", c)
        }
      }
      val meta = res.putObject("run")
      meta.put("seed", seed).put("items", items.size).put("input_rows", inputRows)
        .put("warm_passes", untracedWarm.size).put("warm_samples", warmOk.size)
        .put("tail_percentile", tailP).put("probe_before_s", probeBefore)
        .put("probe_after_s", probeAfter)
      val wa = meta.putArray("pass_walls_s"); walls.foreach(wa.add(_))
      val cs = meta.putObject("cold_item_s"); coldSamples.foreach(s => cs.put(s.item, s.sec))
      val ws = meta.putObject("warm_item_p50_s")
      untracedWarm.flatMap(_._2).groupBy(_.item).toSeq.sortBy(_._1)
        .foreach { case (k, ss) => ws.put(k, median(ss.map(_.sec).toSeq)) }
      val mm = res.putObject("mismatches"); mismatches.foreach { case (k, v) => mm.put(k, v) }
      val ee = res.putObject("errors"); errors.foreach(s => ee.put(s.item, s.err.get))
      res
    }

    /** Each query timed through `count()` and through a `noop` write,
      * builder included in both: count() lets Catalyst prune the work
      * the result does not need. */
    def compareCount(): Seq[(String, Double, Double)] = items.collect { case q: Query =>
      def timed(f: DataFrame => Unit): Double = {
        GraftSession.releaseAll(spark)
        val t0 = System.nanoTime()
        try f(frame(q)) catch { case _: Throwable => () }
        (System.nanoTime() - t0) / 1e9
      }
      (q.name, timed(noop), timed(df => { df.count(); () }))
    }
  }
}
