package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress, Trigger}

import graft.streaming.{MaxwellStream, StreamDedup, StreamEmbDedup, StreamPhashDedup}

/** One benchmark run in one JVM: set the workload up, drive it in a closed
  * loop for the requested seconds through the program's public entry
  * points, and write what was measured (raw per-operation records, Spark
  * counters, streaming progress) as JSON for `run.py` to check, summarise
  * and turn into spans.
  *
  * Usage: Harness key=value ... with keys workload, seconds, trace, input,
  * work, out, master and (olap_mix) queries.
  */
object Harness {

  def now(): Long = System.currentTimeMillis()

  // ------------------------------------------------------------ measurement

  /** Task, stage and job totals from the scheduler's listener events. */
  final class Counters extends SparkListener {
    private val names = Seq("jobs", "stages", "tasks", "failed_tasks", "cpu_ns", "run_ms",
      "sched_delay_ms", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "gc_ms",
      "output_bytes", "output_records", "input_bytes")
    private val c = names.map(_ -> new AtomicLong).toMap
    private def add(k: String, v: Long): Unit = c(k).addAndGet(v)
    override def onJobStart(e: SparkListenerJobStart): Unit = add("jobs", 1)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = add("stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      add("tasks", 1)
      if (!e.taskInfo.successful) add("failed_tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        add("cpu_ns", m.executorCpuTime)
        add("run_ms", m.executorRunTime)
        add("sched_delay_ms", math.max(0L, e.taskInfo.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime))
        add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
        add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
        add("spill_bytes", m.diskBytesSpilled)
        add("gc_ms", m.jvmGCTime)
        add("output_bytes", m.outputMetrics.bytesWritten)
        add("output_records", m.outputMetrics.recordsWritten)
        add("input_bytes", m.inputMetrics.bytesRead)
      }
    }
    def snapshot(): Map[String, Long] = c.map { case (k, v) => k -> v.get }
  }

  def diff(a: Map[String, Long], b: Map[String, Long]): Map[String, Long] =
    b.map { case (k, v) => k -> (v - a(k)) }

  /** Streaming micro-batch progress, as the engine reports it. */
  final class Progress extends StreamingQueryListener {
    val events = new ConcurrentLinkedQueue[StreamingQueryProgress]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      events.add(e.progress)
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def progressJson(p: StreamingQueryProgress): Map[String, Any] = {
    val st = p.stateOperators
    Map("query" -> p.name, "batch" -> p.batchId,
      "start_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
      "rows" -> p.numInputRows,
      "duration_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      "state_rows_total" -> st.map(_.numRowsTotal).sum,
      "state_rows_updated" -> st.map(_.numRowsUpdated).sum,
      "state_update_ms" -> st.map(_.allUpdatesTimeMs).sum,
      "state_commit_ms" -> st.map(_.commitTimeMs).sum,
      "state_bytes" -> st.map(_.memoryUsedBytes).sum)
  }

  /** Old-generation occupancy after one full collection: the live set. */
  def liveOldGenBytes(): Long = {
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
      .map(p => Option(p.getCollectionUsage).map(_.getUsed).getOrElse(p.getUsage.getUsed)).sum
  }

  // ------------------------------------------------------------------ json

  def json(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => json(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\t' => "\\t"
      case '\r' => "\\r"; case ch if ch < ' ' => f"\\u${ch.toInt}%04x"; case ch => ch.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => json(f.toDouble)
    case n: java.lang.Number => n.toString
    case m: Map[_, _] => m.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(json).mkString("[", ",", "]")
    case a: Array[_] => json(a.toSeq)
    case x => json(x.toString)
  }

  // --------------------------------------------------------------- session

  final case class Ctx(args: Map[String, String], spark: SparkSession, counters: Counters,
      progress: Progress, dir: String) {
    def trace: Boolean = args("trace") == "1"
    def input: String = args("input")

    /** Wait until every listener event posted so far has been handled. */
    def drain(): Unit = {
      val bus = spark.sparkContext.getClass.getMethod("listenerBus").invoke(spark.sparkContext)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    }
    def mark(): Map[String, Long] = { drain(); counters.snapshot() }
  }

  def session(args: Map[String, String], dir: String): SparkSession = {
    val cores = args("master").stripPrefix("local[").stripSuffix("]")
    val b = SparkSession.builder()
      .master(args("master"))
      .appName("graftbench-" + args("workload"))
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.io.compression.codec", "zstd")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", dir + "/spark-local")
      .config("spark.sql.warehouse.dir", dir + "/warehouse")
    val tuned =
      if (args("workload") == "olap_mix") b
        .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1000000")
        .config("spark.sql.extensions", "graft.plans.GraftExtensions")
        .config(graft.GraftSql.DataDirConf, args("input") + "/tables")
      else b
        .config("spark.sql.streaming.stateStore.providerClass",
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
        .config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
        .config("spark.sql.streaming.minBatchesToRetain", "2")
        .config("spark.cleaner.periodicGC.interval", "60s")
    val spark = tuned.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Compile the common operator shapes once, as the repo's bench does. */
  def warmUp(spark: SparkSession): Unit = {
    import spark.implicits._
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.range(200).as[Long]
      .flatMap(i => Iterator((i % 50, i.toString), (i % 50, (i + 1).toString)))
      .toDF("k", "t")
      .select(col("k"), xxhash64(col("t")).as("h"))
      .groupBy("k").agg(sort_array(collect_set(col("h"))).as("hs"))
      .write.format("noop").mode("overwrite").save()
  }

  // ------------------------------------------------------------- workloads

  trait Workload {
    /** Everything a user pays before the first operation. */
    def setup(c: Ctx): Unit
    /** The closed loop: whole rounds until `deadline`. Returns the result
      * fields for this workload. */
    def run(c: Ctx, deadline: Long): Map[String, Any]
    /** Untimed, after the counters are read and before the live heap is:
      * stop the queries, leave the outputs the checks need and let go of
      * what the harness held for them. Returns more result fields. */
    def finish(c: Ctx): Map[String, Any]
  }

  /** cdc_serve: the Maxwell queue drains in fixed-size micro-batches
    * (parse -> replicaChangelog -> applyBatchToReplica, with the archive and
    * dead-letter sinks beside it) and every batch ends with one typed read
    * of the replica. The next batch enters the queue when all three queries
    * have committed the previous one. */
  object CdcServe extends Workload {
    val Db = "shop"
    val Table = "customers"
    var queries: Seq[StreamingQuery] = Nil
    val batches = ArrayBuffer.empty[Map[String, Any]]
    var setupTimes = Map.empty[String, Any]
    /** Batches per round. Batch times still fall over the first few timed
      * batches as the engine warms, so every run times the same ones. */
    val RoundBatches = 3

    def setup(c: Ctx): Unit = {
      val spark = c.spark
      val t0 = now()
      val ddl = spark.read.text(c.input + "/ddl.json")
      val failed = MaxwellStream.applyDdl(MaxwellStream.ddlStatementsSpark(MaxwellStream.parse(ddl)))
        .collect { case (stmt, Some(err)) => s"$stmt: $err" }
      require(failed.isEmpty, "DDL failed: " + failed.mkString("; "))
      val t1 = now()
      MaxwellStream.bootstrapReplica(spark.read.parquet(c.input + "/snapshot.parquet"),
        Db, Table, Seq("id"), c.dir + "/replica")
      val t2 = now()
      setupTimes = Map("ddl_s" -> (t1 - t0) / 1e3, "bootstrap_s" -> (t2 - t1) / 1e3)
      Files.createDirectories(Paths.get(c.dir, "queue"))
      val parsed = MaxwellStream.parse(
        spark.readStream.schema("value STRING").text(c.dir + "/queue"))
      batches.clear()
      val replicaQ = MaxwellStream.replicaChangelog(parsed)
        .writeStream
        .queryName("replica")
        .option("checkpointLocation", c.dir + "/ckpt_replica")
        .outputMode("append")
        .foreachBatch { (batch: Dataset[MaxwellStream.StateChange], id: Long) =>
          applyAndRead(c, batch, id)
        }
        .start()
      val archiveQ = MaxwellStream.startArchive(parsed, c.dir + "/archive", c.dir + "/ckpt_archive")
        .queryName("archive").start()
      val rejectQ = MaxwellStream.rejectedEvents(parsed)
        .drop("data", "old")
        .writeStream
        .queryName("rejects")
        .format("parquet")
        .option("path", c.dir + "/rejects")
        .option("checkpointLocation", c.dir + "/ckpt_rejects")
        .outputMode("append")
        .start()
      queries = Seq(replicaQ, archiveQ, rejectQ)
      // the first batch pays the engine's one-off costs (state store,
      // codegen, writers): it ends the set-up, untimed
      drive(c, 0)
    }

    def staged(c: Ctx): Seq[Path] =
      Option(new java.io.File(c.input + "/queue_staged").listFiles()).toSeq.flatten
        .map(_.toPath).sortBy(_.getFileName.toString)

    /** Put the next staged queue file, batch `b`, in the queue; return when
      * all three queries have committed it. */
    def drive(c: Ctx, b: Int): Unit = {
      val f = staged(c).head
      Files.move(f, Paths.get(c.dir, "queue", f.getFileName.toString), StandardCopyOption.ATOMIC_MOVE)
      queries.foreach { q =>
        while (committed(q) < b) {
          q.exception.foreach(e => throw e)
          q.processAllAvailable()
        }
      }
    }

    /** Bucket directory -> its file names, to see which buckets an apply
      * rewrote. */
    def layout(replica: String): Map[String, Set[String]] = {
      val root = new java.io.File(replica)
      Option(root.listFiles()).toSeq.flatten.filter(_.isDirectory).map { d =>
        d.getName -> Option(d.list()).toSeq.flatten.filter(_.endsWith(".parquet")).toSet
      }.toMap
    }

    def applyAndRead(c: Ctx, batch: Dataset[MaxwellStream.StateChange], id: Long): Unit = {
      val replica = c.dir + "/replica"
      val before = if (c.trace) Some((layout(replica), c.mark())) else None
      val t0 = now()
      MaxwellStream.applyBatchToReplica(batch, replica)
      val t1 = now()
      val mid = if (c.trace) Some((layout(replica), c.mark())) else None
      // customers are the keys > 0; the batch's canary row (gen.canary) is
      // read back beside them
      val customer = col("id") > 0
      val r = MaxwellStream.typedReplica(c.spark, replica, Db, Table)
        .agg(count(when(customer, 1)), sum(when(customer, col("balance"))),
          sum(when(customer, col("score"))), sum(when(customer, length(col("note")))),
          sum(when(customer, col("event_id"))), max(when(col("id") === -(id + 1), col("note"))))
        .head()
      val t2 = now()
      val rec = Map[String, Any]("batch" -> id, "apply_start_ms" -> t0, "apply_end_ms" -> t1,
        "read_end_ms" -> t2,
        "read" -> Map("rows" -> r.getLong(0), "sum_balance" -> String.valueOf(r.get(1)),
          "sum_score" -> r.getLong(2), "sum_note_len" -> r.getLong(3),
          "sum_event_id" -> r.getLong(4)), "canary_note" -> r.getString(5))
      val traced = for ((l0, m0) <- before; (l1, m1) <- mid) yield {
        val m2 = c.mark()
        val touched = (l0.keySet ++ l1.keySet).count(b => l0.get(b) != l1.get(b))
        Map("apply" -> diff(m0, m1), "read_counters" -> diff(m1, m2),
          "buckets_touched" -> touched, "replica_files" -> l1.values.map(_.size).sum)
      }
      batches.synchronized { batches += rec ++ traced.getOrElse(Map.empty) }
    }

    /** The committed file-source offset of a query (-1 before any batch). */
    def committed(q: StreamingQuery): Long =
      Option(q.lastProgress).flatMap(_.sources.headOption).flatMap(s => Option(s.endOffset))
        .flatMap(o => "\\d+".r.findFirstIn(o)).map(_.toLong).getOrElse(-1L)

    def run(c: Ctx, deadline: Long): Map[String, Any] = {
      val ops = ArrayBuffer.empty[Map[String, Any]]
      var b = 1
      while (staged(c).size >= RoundBatches && (b == 1 || now() < deadline)) {
        (1 to RoundBatches).foreach { _ =>
          val t0 = now()
          drive(c, b)
          ops += Map("start_ms" -> t0, "end_ms" -> now(), "batch" -> b)
          b += 1
        }
      }
      Map("ops" -> ops)
    }

    def finish(c: Ctx): Map[String, Any] = {
      queries.foreach(_.stop())
      Map("batches" -> batches.toList, "setup_detail" -> setupTimes,
        "replica" -> (c.dir + "/replica"), "archive" -> (c.dir + "/archive"),
        "rejects" -> (c.dir + "/rejects"))
    }
  }

  /** olap_mix: registered queries through the `graft_run` table function,
    * each result collected to the last row. */
  object OlapMix extends Workload {
    /** The first round's rows, for the oracle comparison. */
    val first = scala.collection.mutable.LinkedHashMap.empty[String, (Array[Row], org.apache.spark.sql.types.StructType)]

    def setup(c: Ctx): Unit = {
      val spark = c.spark
      val dir = c.input + "/tables"
      // the repo bench's warm-up: scan, hash aggregate, broadcast join, window
      import org.apache.spark.sql.expressions.Window
      val r = spark.read.parquet(dir + "/region.parquet")
      r.groupBy("r_name").count().count()
      val n = spark.read.parquet(dir + "/nation.parquet")
      n.join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .withColumn("rn", row_number().over(Window.partitionBy(col("n_regionkey")).orderBy(col("n_name"))))
        .filter(col("rn") <= 2)
        .orderBy("n_name")
        .write.format("noop").mode("overwrite").save()
    }

    def run(c: Ctx, deadline: Long): Map[String, Any] = {
      val mix = c.args("queries").split(",").toSeq
      val ops = ArrayBuffer.empty[Map[String, Any]]
      var round = 0
      while (round == 0 || now() < deadline) {
        mix.foreach { q =>
          val m0 = if (c.trace) Some(c.mark()) else None
          val t0 = now()
          val rec = try {
            val df = c.spark.sql(s"SELECT * FROM graft_run('$q')")
            val t1 = now()
            val m1 = if (c.trace) Some(c.mark()) else None
            val rows = df.collect()
            val t2 = now()
            if (round == 0) first(q) = (rows, df.schema)
            val phases = df.queryExecution.tracker.phases.map { case (k, v) => k -> v.durationMs }
            Map[String, Any]("query" -> q, "round" -> round, "start_ms" -> t0, "action_ms" -> t1,
              "end_ms" -> t2, "rows" -> rows.length, "phases_ms" -> phases) ++
              m1.map(x => Map("eager" -> diff(m0.get, x), "action" -> diff(x, c.mark()))).getOrElse(Map.empty)
          } catch {
            case e: Exception =>
              System.err.println(s"[graftbench] $q failed: $e")
              Map[String, Any]("query" -> q, "round" -> round, "start_ms" -> t0, "end_ms" -> now(),
                "failed" -> true)
          }
          ops += rec
        }
        round += 1
      }
      Map("ops" -> ops)
    }

    def finish(c: Ctx): Map[String, Any] = {
      val results = c.dir + "/results"
      first.foreach { case (q, (rows, schema)) =>
        c.spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
          .write.mode("overwrite").parquet(s"$results/$q")
      }
      val oracles = graft.SparkEntry.oracleSql.filter { case (k, _) => first.contains(k) }
      first.clear()
      Map("results" -> results, "oracle_sql" -> oracles)
    }
  }

  /** dedup_gates: each round streams the document feed and the vector feed
    * through the five gate lanes in turn, one feed file per micro-batch,
    * from fresh checkpoints. */
  object DedupGates extends Workload {
    val Lanes = Seq("text", "emb", "image", "audio", "video")
    var planes = 0

    def setup(c: Ctx): Unit =
      planes = StreamEmbDedup.planesForCorpus(c.spark.read.parquet(c.input + "/vecs.parquet").count())

    def lane(c: Ctx, name: String, out: String): StreamingQuery = {
      val spark = c.spark
      val (feed, corpus) =
        if (name == "emb") ("vecs_feed", spark.read.parquet(c.input + "/vecs.parquet"))
        else ("docs_feed", spark.read.parquet(c.input + "/docs.parquet"))
      val stream = spark.readStream.schema(corpus.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"${c.input}/$feed")
      val pairs = name match {
        case "text" => StreamDedup.distinctPairs(stream, corpus)
        case "emb" => StreamEmbDedup.distinctPairs(stream, corpus, nPlanes = planes)
        case "image" => StreamPhashDedup.distinctPairs(stream)
        case "audio" => StreamPhashDedup.distinctAudioPairs(stream)
        case "video" => StreamPhashDedup.distinctVideoPairs(stream)
      }
      pairs.writeStream
        .queryName(name)
        .format("parquet")
        .option("path", s"$out/pairs_$name")
        .option("checkpointLocation", s"$out/ckpt_$name")
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
    }

    def run(c: Ctx, deadline: Long): Map[String, Any] = {
      val ops = ArrayBuffer.empty[Map[String, Any]]
      var round = 0
      while (round == 0 || now() < deadline) {
        val out = s"${c.dir}/round-$round"
        Lanes.foreach { name =>
          val m0 = if (c.trace) Some(c.mark()) else None
          val t0 = now()
          val q = lane(c, name, out)
          q.awaitTermination()
          q.exception.foreach(e => throw e)
          ops += Map[String, Any]("lane" -> name, "round" -> round, "start_ms" -> t0,
            "end_ms" -> now(), "query_id" -> q.runId.toString) ++
            m0.map(m => Map("counters" -> diff(m, c.mark()))).getOrElse(Map.empty)
        }
        round += 1
      }
      Map("ops" -> ops)
    }

    def finish(c: Ctx): Map[String, Any] = {
      // the registered batch twins' brute-force oracles, for the check
      val oracles = graft.SparkEntry.oracleSql.filter { case (k, _) =>
        Seq("mm_phash", "mm_audio_phash", "mm_video_phash").contains(k) }
      Map("pairs" -> s"${c.dir}/round-0", "oracle_sql" -> oracles)
    }
  }

  // ------------------------------------------------------------------ main

  def main(argv: Array[String]): Unit = {
    val args = argv.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    // workload=train: one short pass of every workload, each reading
    // <input>/<workload> (the build's class-archive training run)
    if (args("workload") == "train")
      Seq("cdc_serve", "olap_mix", "dedup_gates").foreach { w =>
        runOne(args ++ Map("workload" -> w, "input" -> s"${args("input")}/$w",
          "work" -> s"${args("work")}/$w", "out" -> s"${args("out")}.$w"))
      }
    else runOne(args)
  }

  def runOne(args: Map[String, String]): Unit = {
    val workload: Workload = args("workload") match {
      case "cdc_serve" => CdcServe
      case "olap_mix" => OlapMix
      case "dedup_gates" => DedupGates
    }
    // the set-up starts with the JVM
    val t0 = ManagementFactory.getRuntimeMXBean.getStartTime
    val dir = args("work")
    val spark = session(args, dir)
    val counters = new Counters
    val progress = new Progress
    spark.sparkContext.addSparkListener(counters)
    spark.streams.addListener(progress)
    val c = Ctx(args, spark, counters, progress, dir)
    val ts = now()
    warmUp(spark)
    val tw = now()
    workload.setup(c)
    val m0 = c.mark()
    progress.events.clear()
    val start = now()
    val fields = workload.run(c, start + (args("seconds").toDouble * 1000).toLong)
    val end = now()
    val m1 = c.mark()
    val more = workload.finish(c)
    val live = liveOldGenBytes()
    val result = Map[String, Any](
      "workload" -> args("workload"), "jvm_start_ms" -> t0,
      "setup_phases" -> Map("session_s" -> (ts - t0) / 1e3, "warm_up_s" -> (tw - ts) / 1e3,
        "workload_s" -> (start - tw) / 1e3),
      "start_ms" -> start, "end_ms" -> end, "counters" -> diff(m0, m1),
      "live_old_gen_bytes" -> live,
      "progress" -> progress.events.asScala.toList.map(progressJson)) ++ fields ++ more
    Files.write(Paths.get(args("out")), json(result).getBytes("UTF-8"))
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }
}
