package perfbench

import java.io.{File, PrintWriter}
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, StandardCopyOption}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions.year
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}
import org.apache.spark.sql.types._

import graft.pql.{BrokerResponse, BrokerServer, FilterOptimizer, Pql, PqlFunctions}
import graft.sources.Tables

/** Load generator for the broker benchmark. `perfbench/run.py` writes a
  * properties file and runs this main in one JVM that holds the engine
  * (a `local[n]` SparkSession plus [[BrokerServer]]) and every client
  * thread. It records raw observations (statement round trips, polls,
  * generated files, spans, Spark jobs, streaming batches) as JSON lines;
  * run.py checks the answers and computes the metrics.
  *
  * `run <props>` sets up (several times, for the set-up metric), drives
  * one workload for the configured seconds and tears down. */
object LoadGen {

  final class Conf(p: java.util.Properties) {
    def str(k: String): String =
      Option(p.getProperty(k)).getOrElse(sys.error(s"missing config key $k"))
    def opt(k: String): Option[String] = Option(p.getProperty(k)).filter(_.nonEmpty)
    def int(k: String): Int = str(k).toInt
    def long(k: String): Long = str(k).toLong
  }

  def main(args: Array[String]): Unit = {
    val props = new java.util.Properties()
    val in = new java.io.FileInputStream(args(0))
    try props.load(in) finally in.close()
    val c = new Conf(props)
    run(c)
    // the HTTP client and Spark leave non-daemon threads behind
    System.exit(0)
  }

  def session(c: Conf): SparkSession = {
    val cpus = c.str("cpus")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir", c.str("work") + "/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  // ---- star-tree over the broker_small table, built once ---------------

  val TreeDims = Seq("l_returnflag", "l_linestatus")
  val TreeMetrics = Seq("l_quantity", "l_extendedprice")

  /** Builds the rollup if it is not there yet; returns the seconds spent. */
  def ensureRollup(c: Conf): Double = {
    val rollup = c.str("rollup")
    val done = new File(rollup + ".done")
    if (done.exists()) 0.0
    else {
      val t0 = System.nanoTime()
      val spark = session(c)
      val fact = spark.read.parquet(s"${c.str("tables")}/${c.str("table")}.parquet")
      graft.plans.StarTree.build(fact, TreeDims, TreeMetrics).rollup
        .write.mode("overwrite").parquet(rollup)
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      done.createNewFile()
      (System.nanoTime() - t0) / 1e9
    }
  }

  // ---- JSON lines out -------------------------------------------------

  def js(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case ch if ch < ' ' => b ++= f"\\u${ch.toInt}%04x"
      case ch => b += ch
    }
    (b += '"').toString
  }

  /** A value that is already JSON. */
  final case class Raw(json: String)

  def obj(kv: (String, Any)*): String = kv.map { case (k, v) =>
    val r = v match {
      case Raw(j) => j
      case null | None => "null"
      case Some(x) => x match { case s: String => js(s); case o => o.toString }
      case s: String => js(s)
      case b: Boolean => b.toString
      case n: Number => n.toString
      case seq: Seq[_] => seq.map {
        case s: String => js(s)
        case o => o.toString
      }.mkString("[", ",", "]")
      case o => js(o.toString)
    }
    s"${js(k)}:$r"
  }.mkString("{", ",", "}")

  def writeLines(path: String, lines: Iterable[String]): Unit = {
    val w = new PrintWriter(path, "UTF-8")
    try lines.foreach(w.println) finally w.close()
  }

  // ---- broker client --------------------------------------------------

  final case class Answer(status: Int, body: String, t0: Long, t1: Long)

  final class Client(port: Int) {
    private val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
    private val uri = URI.create(s"http://127.0.0.1:$port/query")
    def query(pql: String): Answer = {
      val req = HttpRequest.newBuilder(uri)
        .header("Content-Type", "application/json")
        .POST(HttpRequest.BodyPublishers.ofString(s"""{"pql": ${js(pql)}}""")).build()
      val t0 = System.nanoTime()
      try {
        val r = http.send(req, HttpResponse.BodyHandlers.ofString())
        Answer(r.statusCode(), r.body(), t0, System.nanoTime())
      } catch {
        case e: java.io.IOException =>
          Answer(-1, BrokerServer.exceptionJson(-1, e.toString), t0, System.nanoTime())
      }
    }
  }

  private val ValueRe = "\"value\": \"([^\"]*)\"".r
  def values(body: String): Seq[String] = ValueRe.findAllMatchIn(body).map(_.group(1)).toSeq

  // ---- event generator ------------------------------------------------

  val EventSchema: StructType = StructType(Seq(
    StructField("seq", LongType), StructField("created_ms", LongType),
    StructField("kind", StringType), StructField("user_id", IntegerType),
    StructField("amount", LongType), StructField("latency_ms", IntegerType)))

  private val ParquetEventSchema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
    """message event { required int64 seq; required int64 created_ms;
      | required binary kind (UTF8); required int32 user_id;
      | required int64 amount; required int32 latency_ms; }""".stripMargin)

  /** Writes file `idx` (rows seq = idx*rows .. idx*rows+rows-1, values
    * from the seed) into `dir`, atomically visible under its final name. */
  def writeEvents(dir: String, idx: Int, rows: Int, seed: Long): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    val rnd = new java.util.SplittableRandom(seed * 1000003L + idx)
    val tmp = new File(dir, f".tmp-$idx%06d.parquet")
    val conf = new org.apache.hadoop.conf.Configuration()
    val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(tmp.getAbsolutePath))
      .withType(ParquetEventSchema).withConf(conf).build()
    val f = new SimpleGroupFactory(ParquetEventSchema)
    val now = System.currentTimeMillis()
    try (0 until rows).foreach { i =>
      val lat = if (rnd.nextInt(100) < 5) 500 + rnd.nextInt(1500) else rnd.nextInt(200)
      w.write(f.newGroup()
        .append("seq", idx.toLong * rows + i).append("created_ms", now)
        .append("kind", s"k${rnd.nextInt(8)}").append("user_id", rnd.nextInt(5000))
        .append("amount", rnd.nextInt(100000).toLong).append("latency_ms", lat))
    } finally w.close()
    new File(dir, s".${tmp.getName}.crc").delete()
    Files.move(tmp.toPath, new File(dir, f"ev-$idx%06d.parquet").toPath,
      StandardCopyOption.ATOMIC_MOVE)
  }

  // ---- tracing --------------------------------------------------------

  final class Span(val req: Long, val id: Long, val parent: Long, val name: String) {
    val start: Long = System.nanoTime()
    var end: Long = 0L
    var attrs: List[(String, Any)] = Nil
    def json: String = obj((Seq("req" -> req, "id" -> id, "parent" -> parent,
      "name" -> name, "t0" -> start, "t1" -> end) ++ attrs): _*)
  }

  final case class JobRec(id: Int, span: Long, var t0: Long, var t1: Long = 0L,
      var tasks: Long = 0, var runMs: Long = 0, var durMs: Long = 0, var gcMs: Long = 0,
      var inRows: Long = 0, var inBytes: Long = 0, var shuffleWrite: Long = 0,
      var spill: Long = 0) {
    def json: String = obj("job" -> id, "span" -> span, "t0" -> t0, "t1" -> t1,
      "tasks" -> tasks, "run_ms" -> runMs, "dur_ms" -> durMs, "gc_ms" -> gcMs,
      "scan_rows" -> inRows, "scan_bytes" -> inBytes,
      "shuffle_write_bytes" -> shuffleWrite, "spill_bytes" -> spill)
  }

  val GroupPrefix = "perfbench-span-"

  /** Attributes Spark jobs to the span whose job group was set on the
    * submitting thread; times are converted to the nanoTime clock. */
  final class JobListener(clockOffsetNs: Long) extends SparkListener {
    val jobs = new ConcurrentHashMap[Int, JobRec]()
    private val stageJob = new ConcurrentHashMap[Int, Int]()
    val lastEvent = new AtomicLong(System.nanoTime())
    private def ns(ms: Long): Long = ms * 1000000L + clockOffsetNs
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      lastEvent.set(System.nanoTime())
      val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      g.filter(_.startsWith(GroupPrefix)).foreach { grp =>
        jobs.put(e.jobId, JobRec(e.jobId, grp.stripPrefix(GroupPrefix).toLong, ns(e.time)))
        e.stageIds.foreach(s => stageJob.put(s, e.jobId))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      lastEvent.set(System.nanoTime())
      Option(jobs.get(e.jobId)).foreach(_.t1 = ns(e.time))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      lastEvent.set(System.nanoTime())
      for {
        j <- Option(stageJob.get(e.stageId)).flatMap(id => Option(jobs.get(id)))
        m <- Option(e.taskMetrics)
      } {
        j.tasks += 1
        j.runMs += m.executorRunTime
        j.durMs += e.taskInfo.duration
        j.gcMs += m.jvmGCTime
        j.inRows += m.inputMetrics.recordsRead
        j.inBytes += m.inputMetrics.bytesRead
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  final class BatchListener(filesWritten: () => Int, rowsPerFile: Int)
      extends StreamingQueryListener {
    val batches = new ConcurrentLinkedQueue[String]()
    private var rowsSeen = 0L
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      rowsSeen += p.numInputRows
      def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      batches.add(obj("batch" -> p.batchId, "t" -> System.nanoTime(), "rows" -> p.numInputRows,
        "trigger_ms" -> d("triggerExecution"), "add_batch_ms" -> d("addBatch"),
        "commit_ms" -> (d("walCommit") + d("commitOffsets")),
        "backlog_files" -> (filesWritten() - rowsSeen / rowsPerFile)))
    }
  }

  // ---- one set-up: session, tables, broker, ingest, first answer ------

  final class Env(val spark: SparkSession, val broker: BrokerServer, val port: Int,
      val stream: Option[StreamingQuery], val jobs: JobListener,
      val batches: Option[BatchListener])

  val filesWritten = new AtomicInteger(0)

  def setUp(c: Conf, clockOffsetNs: Long): Env = {
    val spark = session(c)
    val tables = c.str("tables")
    val jobs = new JobListener(clockOffsetNs)
    spark.sparkContext.addSparkListener(jobs)
    // a registered transform function, reachable as a PQL group key
    PqlFunctions.register("shipyear", 1)(a => year(a.head))
    c.opt("rollup").foreach { rollup =>
      graft.Graft.enable(spark)
      graft.plans.StarTreeRegistry.register(s"$tables/${c.str("table")}.parquet",
        graft.plans.StarTree.Index(TreeDims, TreeMetrics, spark.read.parquet(rollup)))
    }
    val rows = c.int("gen.rows")
    val gdir = new File(c.str("gen.dir"))
    deleteTree(gdir)
    gdir.mkdirs()
    filesWritten.set(0)
    writeEvents(gdir.getPath, 0, rows, c.long("seed"))
    filesWritten.set(1)
    val (stream, batches) = c.opt("stream.sink") match {
      case Some(sink) =>
        deleteTree(new File(sink))
        deleteTree(new File(c.str("stream.checkpoint")))
        val bl = new BatchListener(() => filesWritten.get, rows)
        spark.streams.addListener(bl)
        val src = spark.readStream.schema(EventSchema).parquet(gdir.getPath)
        (Some(graft.streaming.RealtimeIngest.start(src, sink, c.str("stream.checkpoint"),
          Trigger.ProcessingTime(c.long("stream.trigger_ms")))), Some(bl))
      case None => (None, None)
    }
    val broker = new BrokerServer(spark, tables)
    val port = broker.start()
    // the first statement must answer correctly before set-up is done
    val client = new Client(port)
    val deadline = System.nanoTime() + 60L * 1000000000L
    var ok = false
    while (!ok) {
      ok = values(client.query(c.str("first.pql")).body) == Seq(c.str("first.expect"))
      if (!ok) {
        require(System.nanoTime() < deadline, "first statement never answered correctly")
        Thread.sleep(20)
      }
    }
    new Env(spark, broker, port, stream, jobs, batches)
  }

  def tearDown(c: Conf, env: Env): Unit = {
    env.stream.foreach(_.stop())
    env.broker.stop()
    c.opt("rollup").foreach(_ =>
      graft.plans.StarTreeRegistry.unregister(s"${c.str("tables")}/${c.str("table")}.parquet"))
    env.spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete(); ()
  }

  // ---- the measured run -------------------------------------------------

  def run(c: Conf): Unit = {
    val out = c.str("out")
    val traced = c.int("trace") == 1
    val clockOffsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
    val spawnNs = c.long("spawn_ms") * 1000000L + clockOffsetNs
    // input generation happens once per checkout and is not part of set-up
    val genMs = c.opt("rollup").map(_ => (ensureRollup(c) * 1000).toLong).getOrElse(0L)
    val setupSecs = Seq.newBuilder[Double]
    var env: Env = null
    val reps = c.int("setup_reps")
    for (i <- 1 to reps) {
      val t0 = if (i == 1) c.long("spawn_ms") + genMs else System.currentTimeMillis()
      env = setUp(c, clockOffsetNs)
      setupSecs += (System.currentTimeMillis() - t0) / 1000.0
      if (i < reps) tearDown(c, env)
    }
    val spark = env.spark
    val tables = c.str("tables")
    val stmts: IndexedSeq[(String, String)] =
      scala.io.Source.fromFile(c.str("stmts"), "UTF-8").getLines()
        .map { l => val a = l.split("\t", 2); (a(0), a(1)) }.toIndexedSeq
    val warm = c.int("warmup")
    val stop = new AtomicBoolean(false)
    val visible = new AtomicLong(c.long("gen.rows"))

    // open-loop generator: file k is due at genStart + k * interval
    val genFiles = new ConcurrentLinkedQueue[String]()
    val interval = c.long("gen.interval_ms") * 1000000L
    val rows = c.int("gen.rows")
    val genStart = System.nanoTime()
    val generator = new Thread(() => {
      var k = 1
      while (!stop.get) {
        val due = genStart + k * interval
        val wait = due - System.nanoTime()
        if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
        if (!stop.get) {
          val t0 = System.nanoTime()
          writeEvents(c.str("gen.dir"), k, rows, c.long("seed"))
          filesWritten.incrementAndGet()
          genFiles.add(obj("file" -> k, "hi" -> ((k + 1).toLong * rows - 1), "due" -> due,
            "t0" -> t0, "t1" -> System.nanoTime()))
          k += 1
        }
      }
    }, "perfbench-generator")

    // freshness poller: one statement at a time, fixed pause between
    val polls = new ConcurrentLinkedQueue[String]()
    val pollTable = c.str("poll.table")
    val pollPause = c.long("poll.pause_ms")
    val poller = new Thread(() => {
      val cl = new Client(env.port)
      while (!stop.get) {
        val a = cl.query(s"SELECT COUNT(*), MAX(seq) FROM $pollTable")
        val v = values(a.body)
        polls.add(obj("t0" -> a.t0, "t1" -> a.t1, "status" -> a.status, "body" -> a.body))
        if (v.size == 2 && v(1) != "null" && v(0).toLong == v(1).toLong + 1)
          visible.accumulateAndGet(v(0).toLong, (x: Long, y: Long) => math.max(x, y))
        Thread.sleep(pollPause)
      }
    }, "perfbench-poller")

    // closed-loop readers over the shared statement stream
    val cursor = new AtomicInteger(0)
    val records = new ConcurrentLinkedQueue[String]()
    val spans = new ConcurrentLinkedQueue[Span]()
    val ids = new AtomicLong(0)
    @volatile var windowStart = Long.MaxValue
    @volatile var deadline = Long.MaxValue

    def traceDirect(pql: String, keep: Boolean): (String, Long) = {
      val req = ids.incrementAndGet()
      val sc = spark.sparkContext
      def span[T](name: String, parent: Long)(f: Span => T): T = {
        val s = new Span(req, ids.incrementAndGet(), parent, name)
        val outer = sc.getLocalProperty("spark.jobGroup.id")
        sc.setJobGroup(GroupPrefix + s.id, name)
        try f(s) finally {
          s.end = System.nanoTime()
          if (keep) spans.add(s)
          if (outer == null) sc.clearJobGroup() else sc.setJobGroup(outer, "outer")
        }
      }
      val body = span("request", 0L) { root =>
        try {
          val q = span("pql.parse", root.id) { _ =>
            val q0 = Pql.parse(pql)
            q0.copy(where = q0.where.map(w => FilterOptimizer.optimize(w, None, None)))
          }
          val df = span("pql.compile", root.id) { cs =>
            Pql.toDataFrame(q, name => span("sources.load", cs.id) { ls =>
              val d = Tables.load(spark, tables, name)
              ls.attrs = List("files" -> d.inputFiles.length)
              d
            })
          }
          span("catalyst.optimize", root.id) { os =>
            val roots = df.queryExecution.optimizedPlan.collectLeaves().flatMap {
              case lr: LogicalRelation => lr.relation match {
                case fs: HadoopFsRelation => fs.location.rootPaths.map(_.toString)
                case _ => Nil
              }
              case _ => Nil
            }
            val attempt = c.opt("rollup").isDefined && Pql.isAggregationQuery(q)
            val hit = c.opt("rollup").exists(r => roots.exists(_.contains(new File(r).getName)))
            os.attrs = List("route_attempt" -> attempt, "route_hit" -> hit)
          }
          span("catalyst.physical", root.id) { _ => df.queryExecution.executedPlan }
          span("pql.render", root.id) { _ => BrokerResponse.render(q, df, false, false) }
        } catch {
          case e: Exception => BrokerServer.exceptionJson(BrokerServer.QueryExecutionErrorCode,
            s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
        }
      }
      (body, req)
    }

    // warm-up: the first `warm` statements once, untimed; the window then
    // starts when all of them have completed and replays the rest
    val warmLeft = new java.util.concurrent.CountDownLatch(warm)
    def startWindow(): Unit = cursor.synchronized {
      if (windowStart == Long.MaxValue) {
        cursor.set(0)
        windowStart = System.nanoTime()
        deadline = windowStart + c.long("seconds") * 1000000000L
      }
    }
    def execute(cl: Client, idx: Int, record: Boolean): Unit = {
      val (tpl, text) = stmts(idx)
      val bound = visible.get
      val pql = text.replace("{S}", bound.toString)
      val a = cl.query(pql)
      val direct = if (traced) Some(traceDirect(pql, record)) else None
      if (record)
        records.add(obj("i" -> idx, "tpl" -> tpl, "bound" -> bound, "t0" -> a.t0, "t1" -> a.t1,
          "status" -> a.status, "body" -> a.body,
          "direct_body" -> direct.map(_._1), "req" -> direct.map(_._2)))
    }
    val clients = (0 until c.int("clients")).map { n =>
      new Thread(() => {
        val cl = new Client(env.port)
        var i = cursor.getAndIncrement()
        while (i < warm) {
          execute(cl, i, record = false)
          warmLeft.countDown()
          i = cursor.getAndIncrement()
        }
        warmLeft.await()
        startWindow()
        while (!stop.get && System.nanoTime() < deadline)
          execute(cl, warm + cursor.getAndIncrement() % (stmts.size - warm), record = true)
      }, s"perfbench-client-$n")
    }
    generator.start(); poller.start()
    clients.foreach(_.start())
    clients.foreach(_.join())
    val windowEnd = deadline
    stop.set(true)
    generator.join(); poller.join()

    // after the writer stops, the table must converge to every row
    // generated, exactly once
    val finalCheck = {
      env.stream.foreach(_.processAllAvailable())
      val a = new Client(env.port).query(s"SELECT COUNT(*), MAX(seq) FROM $pollTable")
      obj("expect_rows" -> filesWritten.get.toLong * rows, "body" -> a.body)
    }
    // let the listener bus drain before reading job records
    val quietBy = System.nanoTime() + 10L * 1000000000L
    while (System.nanoTime() - env.jobs.lastEvent.get < 500000000L &&
        System.nanoTime() < quietBy)
      Thread.sleep(100)

    val sc = spark.sparkContext
    val rt = Runtime.getRuntime
    val info = obj(
      "setup_s" -> setupSecs.result(), "rollup_build_ms" -> genMs,
      "window_start" -> windowStart, "window_end" -> windowEnd, "spawn_ns" -> spawnNs,
      "final" -> Raw(finalCheck), "spark_version" -> spark.version,
      "heap_max_bytes" -> rt.maxMemory, "cpus" -> rt.availableProcessors,
      "spark_conf" -> sc.getConf.getAll
        .filterNot { case (k, _) =>
          k.contains("id") || k.contains("JavaOptions") || k.contains("s3a") }
        .sortBy(_._1).map { case (k, v) => s"$k=$v" }.toSeq)
    writeLines(s"$out/info.json", Seq(info))
    writeLines(s"$out/records.jsonl", records.asScala)
    writeLines(s"$out/polls.jsonl", polls.asScala)
    writeLines(s"$out/files.jsonl", genFiles.asScala)
    writeLines(s"$out/spans.jsonl", spans.asScala.map(_.json))
    writeLines(s"$out/jobs.jsonl", env.jobs.jobs.values.asScala.map(_.json))
    writeLines(s"$out/batches.jsonl", env.batches.map(_.batches.asScala).getOrElse(Nil))
    tearDown(c, env)
  }
}
