package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.pipeline.CachePool
import graft.streaming.StreamingEtl

/** Benchmark harness: times calls into the engine's public functions from
  * outside the program and writes one raw result file that `run.py` turns
  * into metrics.
  *
  * Query workloads run a face list: a set-up phase (session, then warm-up
  * passes that each start from an empty `CachePool`), then steady passes in
  * a seed-permuted order until the time budget is spent. The ingest
  * workload preloads a `ParquetMetadataStore` and feeds it an open-loop
  * request stream the way `StreamingEtl.runStream`'s `foreachBatch` does.
  *
  * With `trace=1` a [[Counters]] listener counts jobs, stages and tasks,
  * and every face (or ingest batch) becomes a span whose children are timed
  * separately; the listener bus is drained at each child boundary so the
  * counts land in the child that ran them.
  *
  * Arguments are `key=value`: workload, seed, seconds, trace, data, work,
  * out, faces (comma list), setups, t0ms (launch time, epoch ms); or
  * `dump=oracle out=<file>` to write `SparkEntry.oracleSql` as JSON.
  */
object PerfBench {

  def main(args: Array[String]): Unit = {
    val o = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    if (o.get("dump").contains("oracle")) { // for oracle_rows.py: no session
      java.nio.file.Files.write(new File(o("out")).toPath,
        Json(graft.SparkEntry.oracleSql).getBytes("UTF-8"))
      return
    }
    val workload = o("workload")
    val seed = o("seed").toLong
    val seconds = o("seconds").toDouble
    val trace = o("trace") == "1"
    val data = o("data")
    val work = o("work")
    val setups = o.getOrElse("setups", "3").toInt
    val t0ms = o("t0ms").toLong
    val spark = session(work)
    val sessionS = (System.currentTimeMillis() - t0ms) / 1e3
    val counters = new Counters
    if (trace) spark.sparkContext.addSparkListener(counters)
    val tracer = new Tracer(spark, counters, trace)
    val env = Map(
      "nproc" -> Runtime.getRuntime.availableProcessors,
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"),
      "session_conf" -> spark.conf.getAll.filter { case (k, _) =>
        k.startsWith("spark.sql.") || k == "spark.master" }.toSeq.sorted.toMap,
      "data" -> data, "seed" -> seed, "workload" -> workload)
    val result: Map[String, Any] = workload match {
      case "ingest" =>
        new Ingest(spark, tracer, work, seed).run(
          preloadItems = 100000, setups = setups, seconds = seconds)
      case _ =>
        val faces = o("faces").split(",").toSeq
        runQueries(spark, tracer, data, faces, seed, seconds, setups, work)
    }
    if (trace) tracer.record("tables" -> tracer.tablesProbe(data))
    val out = result ++ Map("env" -> env, "session_s" -> sessionS,
      "trace" -> (if (trace) tracer.summary() else Map.empty))
    java.nio.file.Files.write(new File(o("out")).toPath,
      Json(out).getBytes("UTF-8"))
    CachePool.release()
    spark.stop()
  }

  /** `graft.Bench`'s session settings on `local[nproc]`, with every path
    * the session writes to under `work`. */
  def session(work: String): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors.toString
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionNum",
        math.max(4, cpus.toInt / 4).toString)
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/local")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.CacheManager",
      org.apache.logging.log4j.Level.ERROR)
    spark
  }

  def now(): Long = System.nanoTime()
  def secs(t0: Long, t1: Long): Double = (t1 - t0) / 1e9

  def runQueries(spark: SparkSession, tracer: Tracer, data: String,
                 faces: Seq[String], seed: Long, seconds: Double,
                 setups: Int, work: String): Map[String, Any] = {
    val fns = graft.SparkEntry.queries
    val missing = faces.filterNot(fns.contains)
    require(missing.isEmpty, s"unknown faces: ${missing.mkString(",")}")
    val records = mutable.ArrayBuffer.empty[Map[String, Any]]
    def runFace(name: String, pass: Int, phase: String, traced: Boolean): Unit = {
      val t0 = now()
      val rec: Map[String, Any] =
        try {
          if (traced) tracer.face(name, fns(name)(_, data))
          else Map("rows" -> fns(name)(spark, data).count())
        } catch {
          case e: Throwable =>
            Map("err" -> (e.getClass.getName + ": " + String.valueOf(e.getMessage)).take(300))
        }
      records += rec ++ Map("face" -> name, "pass" -> pass, "phase" -> phase,
        "traced" -> traced, "s" -> secs(t0, now()))
    }
    // Set-up: each warm-up pass starts from an empty CachePool, so every
    // one pays the pool and memo builds; the first also pays JIT/codegen.
    val setupS = (1 to setups).map { k =>
      val t0 = now()
      if (k > 1) CachePool.release()
      faces.foreach(runFace(_, -k, "setup", traced = false))
      secs(t0, now())
    }
    // Steady passes, each in its own seed-permuted order. A traced run
    // alternates traced and untraced passes (traced first) so it can
    // report its own overhead and compare two traced passes.
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val deadline = now() + (seconds * 1e9).toLong
    var p = 0
    val minPasses = if (tracer.on) 3 else 1
    while (p < minPasses || now() < deadline) {
      val traced = tracer.on && p % 2 == 0
      val order = new scala.util.Random(seed * 1000003L + p).shuffle(faces)
      val pool0 = CachePool.poolSize
      val memo0 = CachePool.memoSize
      val t0 = now()
      order.foreach(runFace(_, p, "timed", traced))
      passes += Map("pass" -> p, "traced" -> traced, "s" -> secs(t0, now()),
        "pool_new" -> (CachePool.poolSize - pool0),
        "memo_new" -> (CachePool.memoSize - memo0))
      p += 1
    }
    val sink =
      if (tracer.on) new Ingest(spark, tracer, work, seed).probe() else Map.empty
    Map("setup_s" -> setupS, "records" -> records, "passes" -> passes,
      "cached_mb" -> cachedMb(spark), "pool_size" -> CachePool.poolSize,
      "memo_size" -> CachePool.memoSize, "sink_probe" -> sink)
  }

  /** Memory and disk held by cached or checkpointed RDDs, in MB. */
  def cachedMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum / 1048576.0
}

/** Scheduler counts, attributed to spans by draining the bus at span
  * boundaries. Updated on the listener thread, read on the driver's. */
final class Counters extends SparkListener {
  // jobs, stages, tasks, task wall ms, run ms, cpu ns, scheduler delay ms,
  // shuffle write bytes, spill bytes
  private val c = new Array[Long](9)
  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { c(0) += 1 }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized { c(1) += 1 }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val i = e.taskInfo
    val m = e.taskMetrics
    c(2) += 1
    c(3) += i.duration
    if (m != null) {
      c(4) += m.executorRunTime
      c(5) += m.executorCpuTime
      val gettingResult =
        if (i.gettingResultTime > 0) i.finishTime - i.gettingResultTime else 0L
      c(6) += math.max(0L, i.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - gettingResult)
      c(7) += m.shuffleWriteMetrics.bytesWritten
      c(8) += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }
  def snapshot(): Array[Long] = synchronized { c.clone() }
}

/** Spans for the traced run. Each child's counts are the difference of
  * two drained snapshots; taking a snapshot is timed apart from the
  * children, as tracing overhead. */
final class Tracer(spark: SparkSession, counters: Counters, val on: Boolean) {
  private val sc = spark.sparkContext
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private var drainNs = 0L
  private def gcMs(): Long = gcBeans.map(b => math.max(0L, b.getCollectionTime)).sum

  final case class Snap(c: Array[Long], gcMs: Long, pool: Int, memo: Int)
  def snap(): Snap = {
    val t0 = System.nanoTime()
    PerfbenchBus.drain(sc)
    val s = Snap(counters.snapshot(), gcMs(), CachePool.poolSize, CachePool.memoSize)
    drainNs += System.nanoTime() - t0
    s
  }
  private val names = Seq("jobs", "stages", "tasks", "task_ms", "run_ms",
    "cpu_ns", "delay_ms", "shuffle_write_b", "spill_b")
  def delta(a: Snap, b: Snap): Map[String, Any] =
    names.indices.map(i => names(i) -> (b.c(i) - a.c(i))).toMap ++ Map(
      "gc_ms" -> (b.gcMs - a.gcMs), "pool_new" -> (b.pool - a.pool),
      "memo_new" -> (b.memo - a.memo))

  /** Time `body` as one child span; returns its value, seconds and counts. */
  def child[T](body: => T): (T, Map[String, Any]) = if (!on) {
    val t0 = System.nanoTime()
    val v = body
    (v, Map("s" -> (System.nanoTime() - t0) / 1e9))
  } else {
    val s0 = snap()
    val t0 = System.nanoTime()
    val v = body
    val t1 = System.nanoTime()
    val s1 = snap()
    (v, delta(s0, s1) + ("s" -> (t1 - t0) / 1e9))
  }

  /** One face as a span: construct (the `fn` call), plan (analysing and
    * planning `groupBy().count()`, the plan `count()` runs) and exec
    * (running that plan). */
  def face(name: String, build: SparkSession => DataFrame): Map[String, Any] = {
    val d0 = drainNs
    val t0 = System.nanoTime()
    val (df, construct) = child(build(spark))
    val (counted, plan) = child {
      val c = df.groupBy().count()
      c.queryExecution.executedPlan
      c
    }
    val (rows, exec) = child(counted.collect()(0).getLong(0))
    val wall = (System.nanoTime() - t0) / 1e9
    Map("rows" -> rows, "span_s" -> wall, "drain_s" -> (drainNs - d0) / 1e9,
      "construct" -> construct, "plan" -> plan, "exec" -> exec)
  }

  /** `Tables.apply` and `Tables.raw` per call, per table, in ms. */
  def tablesProbe(data: String, calls: Int = 25): Map[String, Any] = {
    def per(f: String => DataFrame): Seq[Double] =
      graft.Tables.names.filter(t => new File(s"$data/$t.parquet").exists).flatMap { t =>
        f(t) // first touch caches the schema
        (1 to calls).map { _ =>
          val t0 = System.nanoTime(); f(t); (System.nanoTime() - t0) / 1e6
        }
      }
    Map("apply_ms" -> per(graft.Tables(spark, data, _)),
      "raw_ms" -> per(graft.Tables.raw(spark, data, _)))
  }

  private var extra: Map[String, Any] = Map.empty
  def record(kv: (String, Any)*): Unit = extra ++= kv
  def summary(): Map[String, Any] = extra + ("drain_s" -> drainNs / 1e9)
}

/** The ingest path: a `ParquetMetadataStore` preloaded with items, then an
  * open-loop stream of document requests at a fixed rate. One thread takes
  * every request that is due, builds the updates exactly as
  * `StreamingEtl.runStream`'s `foreachBatch` does, merges them, runs
  * `maybeCompact`, and once a second reads a freshly written id back. */
final class Ingest(spark: SparkSession, tracer: Tracer, work: String, seed: Long) {
  import PerfBench.{now, secs}
  private val Types = Seq("POLICY" -> "Polizas", "APPRAISAL" -> "Tasaciones",
    "REGISTRATION" -> "Inscripciones")
  private val Ids = 150000
  private val rng = new scala.util.Random(seed)
  // Zipf(1.0) over Ids ranks; rank r maps to record id (r * 7919) mod Ids,
  // so hot ids are spread over preloaded and new items alike
  private lazy val cdf: Array[Double] = {
    val w = Array.tabulate(Ids)(r => 1.0 / (r + 1))
    val out = new Array[Double](Ids)
    var acc = 0.0
    var i = 0
    while (i < Ids) { acc += w(i); out(i) = acc; i += 1 }
    out.map(_ / acc)
  }
  private def zipfId(): Int = {
    val u = rng.nextDouble()
    var lo = 0
    var hi = Ids - 1
    while (lo < hi) { val m = (lo + hi) >>> 1; if (cdf(m) < u) lo = m + 1 else hi = m }
    ((lo.toLong * 7919L) % Ids).toInt
  }

  /** One request: (payload, item id or null when malformed, values). */
  final case class Req(due: Double, json: String, id: String, values: Map[String, String])
  private def request(i: Int, due: Double): Req =
    if (rng.nextDouble() < 0.01)
      Req(due, s"""{"recordId":"bad-$i","documentType":"POLICY","key":""", null, Map.empty)
    else {
      val rec = zipfId()
      val (dtype, folder) = Types(rng.nextInt(Types.size))
      val sess = s"sess-${rng.nextInt(10)}"
      val key = s"$folder/doc_${seed}_$i.pdf"
      Req(due,
        s"""{"recordId":"rec-$rec","parentId":"parent-${rec % 50}","sessionId":"$sess",""" +
          s""""documentType":"$dtype","key":"$key"}""",
        s"item-rec-$rec",
        Map("document_type" -> dtype, "key" -> key, "session_id" -> sess))
    }

  /** `runStream`'s foreachBatch body up to the merge. */
  private def updates(batch: Seq[Req]): DataFrame = {
    import spark.implicits._
    val raw = batch.map(_.json).toDF("value")
    StreamingEtl.parseRequests(raw)
      .filter(col("record_id").isNotNull)
      .select(concat(lit("item-"), col("record_id")).as("id"),
        explode(map(
          lit("document_type"), col("document_type"),
          lit("key"), col("key"),
          lit("session_id"), col("session_id"))).as(Seq("mkey", "mvalue")))
  }

  /** `n` preloaded items as (id, mkey, mvalue) rows, three keys each. */
  private def items(n: Long): DataFrame = {
    val id = col("id")
    val dtype = element_at(typedlit(Types.map(_._1)), (id % 3 + 1).cast("int"))
    val folder = element_at(typedlit(Types.map(_._2)), (id % 3 + 1).cast("int"))
    spark.range(n).select(
      concat(lit("item-rec-"), id.cast("string")).as("id"),
      explode(map(
        lit("document_type"), dtype,
        lit("key"), concat(folder, lit("/doc_"), id.cast("string"), lit(".pdf")),
        lit("session_id"), concat(lit("sess-"), (id % 10).cast("string"))))
        .as(Seq("mkey", "mvalue")))
  }

  /** A store holding `n` items, after one merge into the empty store and
    * one steady-path merge that rewrites 100 items to the values they
    * already hold (so the first timed batch does not pay its JIT). */
  private def preload(dir: String, n: Int): StreamingEtl.ParquetMetadataStore = {
    val store = new StreamingEtl.ParquetMetadataStore(spark, dir)
    store.merge(items(n))
    store.merge(items(math.min(n, 100)))
    store
  }

  private def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(dirBytes).sum
    else if (f.getName.endsWith(".parquet")) f.length else 0L

  private def maxFilesPerPid(dir: String): Int =
    Option(new File(dir).listFiles).toSeq.flatten.filter(_.getName.startsWith("pid="))
      .map(d => Option(d.listFiles).toSeq.flatten.count(_.getName.endsWith(".parquet")))
      .maxOption.getOrElse(0)

  /** The ingest workload: `setups` preloads (the last one is served), then
    * `seconds` of requests arriving at `rate` per second. */
  def run(preloadItems: Int, setups: Int, seconds: Double,
          rate: Double = 100.0): Map[String, Any] = {
    val setupS = (1 to setups).map { k =>
      val t0 = now()
      preload(s"$work/store-$k", preloadItems)
      secs(t0, now())
    }
    val dir = s"$work/store-$setups"
    val store = new StreamingEtl.ParquetMetadataStore(spark, dir)
    stream(store, dir, preloadItems, seconds, rate, Int.MaxValue) ++
      Map("setup_s" -> setupS)
  }

  /** The sink layer at a fixed small size, for the traced run of a query
    * workload: the same loop on a 2k-item store, four 40-request batches. */
  def probe(): Map[String, Any] = {
    val dir = s"$work/probe-store"
    val store = preload(dir, 2000)
    stream(store, dir, 2000, seconds = 0, rate = 0, closedBatches = 4)
  }

  private def stream(store: StreamingEtl.ParquetMetadataStore, dir: String,
                     preloaded: Int, seconds: Double, rate: Double,
                     closedBatches: Int): Map[String, Any] = {
    // last-writer-wins model: id -> mkey -> values the last batch that
    // touched id may have left (two requests for one id in one batch tie)
    val model = mutable.HashMap.empty[String, Map[String, Set[String]]]
    val batches = mutable.ArrayBuffer.empty[Map[String, Any]]
    val latencies = mutable.ArrayBuffer.empty[Double]
    val reads = mutable.ArrayBuffer.empty[Double]
    var readFails = 0
    var requests = 0
    var malformed = 0
    var folds = 0
    val open = closedBatches == Int.MaxValue
    val t0 = now()
    val deadline = t0 + (seconds * 1e9).toLong
    var next = 0
    var lastRead = t0
    def dueOf(i: Int): Double = i / rate
    while (if (open) now() < deadline else batches.size < closedBatches) {
      val elapsed = secs(t0, now())
      val batch = mutable.ArrayBuffer.empty[Req]
      if (open) while (dueOf(next) <= elapsed) { batch += request(next, dueOf(next)); next += 1 }
      else (1 to 40).foreach { _ => batch += request(next, elapsed); next += 1 }
      if (batch.isEmpty) Thread.sleep(1)
      else {
        val b0 = now()
        val (upd, build) = tracer.child(updates(batch.toSeq))
        val (_, merge) = tracer.child(StreamingEtl.withRetry()(store.merge(upd)))
        val mergedAt = secs(t0, now())
        val (folded, compact) = tracer.child(StreamingEtl.withRetry()(store.maybeCompact()))
        folds += folded.size
        val valid = batch.filter(_.id != null)
        requests += batch.size
        malformed += batch.size - valid.size
        valid.foreach(r => latencies += mergedAt - r.due)
        valid.groupBy(_.id).foreach { case (id, rs) =>
          model(id) = rs.head.values.keys.map(k => k -> rs.map(_.values(k)).toSet).toMap
        }
        var read: Map[String, Any] = Map.empty
        if (!open || secs(lastRead, now()) >= 1.0) if (valid.nonEmpty) {
          lastRead = now()
          val id = valid.last.id
          val (df, construct) = tracer.child(store.read().filter(col("id") === id))
          val (_, plan) = tracer.child(df.queryExecution.executedPlan)
          val (rows, exec) = tracer.child(df.collect())
          val got = rows.map(row => row.getString(1) -> row.getString(2)).toMap
          val s = Seq(construct, plan, exec).map(_("s").asInstanceOf[Double]).sum
          reads += s
          if (got.keySet != model(id).keySet ||
              got.exists { case (k, v) => !model(id)(k).contains(v) }) readFails += 1
          read = Map("s" -> s, "construct" -> construct, "plan" -> plan, "exec" -> exec)
        }
        batches += Map("requests" -> batch.size, "valid" -> valid.size,
          "s" -> secs(b0, now()), "build" -> build, "merge" -> merge,
          "compact" -> compact, "read" -> read, "folded" -> folded.size)
      }
    }
    // end-of-run check: every touched id holds a value its last batch
    // wrote, nothing malformed got in, and no other id was added or lost
    val stored = store.read()
    val touched = model.keys.toSeq
    val got = stored.filter(col("id").isin(touched: _*)).collect()
      .groupBy(_.getString(0)).map { case (id, rows) =>
        id -> rows.map(r => r.getString(1) -> r.getString(2)).toMap }
    val wrong = touched.count { id =>
      val g = got.getOrElse(id, Map.empty[String, String])
      g.keySet != model(id).keySet || g.exists { case (k, v) => !model(id)(k).contains(v) }
    }
    val preloadedIds = (0 until preloaded).map(i => s"item-rec-$i").toSet
    val expectedRows = 3L * (preloadedIds ++ touched).size
    val rows = stored.count()
    val badIds = stored.filter(!col("id").startsWith("item-rec-") || col("mvalue").isNull).count()
    Map("batches" -> batches, "latencies" -> latencies, "reads" -> reads,
      "read_fails" -> readFails, "requests" -> requests, "malformed" -> malformed,
      "touched" -> touched.size, "wrong_ids" -> wrong, "bad_ids" -> badIds,
      "rows" -> rows, "expected_rows" -> expectedRows, "folds" -> folds,
      "store_bytes" -> dirBytes(new File(dir)),
      "cached_mb" -> PerfBench.cachedMb(spark),
      "files_per_pid_max" -> maxFilesPerPid(dir))
  }
}

/** Just enough JSON for the result file. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case a: Array[_] => apply(a.toSeq)
    case other => quote(other.toString)
  }
  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b.append('"').toString
  }
}
