package graft.perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

import graft.{CacheLifecycle, SparkEntry}
import graft.jobs.{IngestJob, TransformJob}
import graft.operators.{Curation, Dedup, Multimodal, Relational, Retrieval, Similarity, TextAnalysis}
import graft.sources.{ParquetSink, Sink}
import graft.streaming.EventStream

/** One benchmark run: a fresh JVM, one driver thread issuing every
  * operation and waiting for it (a closed loop with one client).
  *
  * Arguments are `key=value` pairs; the Python runner (`run.py`) passes
  * the staged input directory, the run-owned root, the LLM queries and
  * the least number of timed passes. The driver prints `PERFBENCH_READY` when set-up ends, then runs
  * timed passes until `seconds` have elapsed (at least `min_passes`), and
  * writes everything it measured to `out/result.json`. A traced run
  * settles one untimed pass first, then orders its passes untraced,
  * traced, traced, untraced.
  */
object Driver {

  final case class Conf(kv: Map[String, String]) {
    def apply(k: String): String = kv.getOrElse(k, sys.error(s"missing argument $k"))
    def int(k: String): Int = apply(k).toInt
    def list(k: String): Seq[String] = apply(k).split(",").toSeq.filter(_.nonEmpty)
  }

  final case class Op(pass: Int, kind: String, seconds: Double, ok: Boolean)
  final case class Check(name: String, ok: Boolean, detail: String)
  final case class PassRec(pass: Int, traced: Boolean, settle: Boolean, seconds: Double,
      extra: Seq[(String, String)])

  def main(args: Array[String]): Unit = {
    val conf = Conf(args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap)
    val tmp = new File(System.getProperty("java.io.tmpdir"))
    val stale = Option(tmp.listFiles()).toSeq.flatten.filter(_.getName.startsWith("graft-"))
    if (stale.nonEmpty) {
      System.err.println(s"[perfbench] stale durable stores in $tmp: " +
        stale.map(_.getName).mkString(","))
      sys.exit(3)
    }
    val cpus = conf("cpus")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    new Driver(spark, conf).run()
    spark.stop()
  }
}

final class Driver(spark: SparkSession, conf: Driver.Conf) {
  import Driver._

  private val workload = conf("workload")
  private val input = conf("input")
  private val root = conf("root")
  private val out = conf("out")
  private val seed = conf("seed").toLong
  private val traceRun = conf("trace") == "1"
  private val tracer = new Tracer(s"$workload-$seed-${ProcessHandle.current().pid()}")
  private val tasks = new TaskListener
  private val qes = new QeListener

  private val ops = ArrayBuffer.empty[Op]
  private val checks = ArrayBuffer.empty[Check]
  private val passes = ArrayBuffer.empty[PassRec]
  private val marks = ArrayBuffer.empty[(String, String)]
  private var pass = -1
  // wall and CPU time spent on output checks and clean-up inside a pass;
  // excluded from its times
  private var excludedNs = 0L
  private var excludedCpuNs = 0L

  private def span[T](name: String)(body: => T): T = tracer.span(name)(body)

  /** Time one operation; a throwing operation counts as failed, never as fast. */
  private def op[T](kind: String)(body: => T): Option[T] = {
    val t0 = System.nanoTime()
    try {
      val r = body
      ops += Op(pass, kind, (System.nanoTime() - t0) / 1e9, ok = true)
      Some(r)
    } catch {
      case NonFatal(e) =>
        ops += Op(pass, kind, (System.nanoTime() - t0) / 1e9, ok = false)
        System.err.println(s"[perfbench] $kind failed: $e")
        None
    }
  }

  private def excluded[T](body: => T): T = {
    val t0 = System.nanoTime()
    val c0 = cpuNanos()
    try body finally {
      excludedCpuNs += cpuNanos() - c0
      excludedNs += System.nanoTime() - t0
    }
  }

  private def check(name: String)(body: => (Boolean, String)): Unit = excluded {
    val (ok, detail) =
      try body catch { case NonFatal(e) => (false, e.toString) }
    checks += Check(name, ok, detail)
    if (!ok) System.err.println(s"[perfbench] check $name failed: $detail")
  }

  private def setTracing(on: Boolean): Unit = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    if (on && !tracer.enabled) {
      spark.sparkContext.addSparkListener(tasks)
      spark.listenerManager.register(qes)
    } else if (!on && tracer.enabled) {
      spark.sparkContext.removeSparkListener(tasks)
      spark.listenerManager.unregister(qes)
    }
    tracer.enabled = on
  }

  private def codegen: String = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    Json.obj(Seq("count" -> h.getCount.toString, "mean_ms" -> Json.num(h.getSnapshot.getMean)))
  }

  private def fsStats: String = {
    import scala.jdk.CollectionConverters._
    val st = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file")
    def sum(f: org.apache.hadoop.fs.FileSystem.Statistics => Long): String = st.map(f).sum.toString
    Json.obj(Seq("bytes_written" -> sum(_.getBytesWritten), "bytes_read" -> sum(_.getBytesRead)))
  }

  private def mark(name: String): Unit = marks += name -> Json.obj(Seq(
    "at_us" -> Clock.nowUs.toString, "cpu_ns" -> cpuNanos().toString,
    "codegen" -> codegen, "fs" -> fsStats,
    "persistent_rdds" -> spark.sparkContext.getPersistentRDDs.size.toString))

  def run(): Unit = {
    mark("session")
    val w: Workload = workload match {
      case "batch_etl" => new BatchEtl(new StarEtl, new LlmBatch)
      case "index_maintenance" => new IndexMaintenance
      case other => sys.error(s"unknown workload $other")
    }
    w.warmup()
    mark("ready")
    println("PERFBENCH_READY")
    Console.out.flush()
    val seconds = conf("seconds").toDouble
    val minPasses = conf.int("min_passes")
    val t0 = System.nanoTime()
    var i = 0
    while (i < minPasses || (System.nanoTime() - t0) / 1e9 < seconds) {
      pass = i
      tracer.pass = i
      // a traced run settles pass 0, the slowest after the warm-up, then
      // orders its passes untraced, traced, traced, untraced, so the
      // tracing overhead is measured inside one JVM and host window without
      // the JIT's warming across passes favouring either side
      val settle = traceRun && i == 0
      val traced = traceRun && ((i - 1) % 4 == 1 || (i - 1) % 4 == 2)
      setTracing(traced)
      excludedNs = 0L
      excludedCpuNs = 0L
      val rdds0 = spark.sparkContext.getPersistentRDDs.size
      val c0 = cpuNanos()
      val p0 = System.nanoTime()
      val extra = w.pass(i)
      val secs = (System.nanoTime() - p0 - excludedNs) / 1e9
      val c1 = cpuNanos() - excludedCpuNs
      // frames and live heap while the pass's session frames are still pinned
      val pinned = spark.sparkContext.getPersistentRDDs.size - rdds0
      val pinnedBytes = spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum
      val heap = liveHeapBytes()
      val c2 = cpuNanos()
      val r0 = System.nanoTime()
      w.release()
      passes += PassRec(i, traced, settle, secs + (System.nanoTime() - r0) / 1e9, extra ++ Seq(
        "cpu_seconds" -> Json.num((c1 - c0 + cpuNanos() - c2) / 1e9),
        "frames_pinned" -> pinned.toString, "pinned_bytes" -> pinnedBytes.toString,
        "live_heap_bytes" -> heap.toString))
      i += 1
    }
    setTracing(false)
    mark("end")
    w.finish()
    write()
  }

  private def write(): Unit = {
    val rss = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM")).map(_.split("\\s+")(1).toLong).getOrElse(0L)
    val json = Json.obj(Seq(
      "workload" -> Json.str(workload),
      "vm_hwm_kb" -> rss.toString,
      "heap_max_bytes" -> Runtime.getRuntime.maxMemory.toString,
      "marks" -> Json.obj(marks.toSeq),
      "passes" -> passes.map(p => Json.obj(Seq("pass" -> p.pass.toString,
        "traced" -> p.traced.toString, "settle" -> p.settle.toString,
        "seconds" -> Json.num(p.seconds)) ++ p.extra))
        .mkString("[", ",", "]"),
      "ops" -> ops.map(o => Json.obj(Seq("pass" -> o.pass.toString, "kind" -> Json.str(o.kind),
        "seconds" -> Json.num(o.seconds), "ok" -> o.ok.toString))).mkString("[", ",\n", "]"),
      "checks" -> checks.map(c => Json.obj(Seq("name" -> Json.str(c.name),
        "ok" -> c.ok.toString, "detail" -> Json.str(c.detail.take(500))))).mkString("[", ",\n", "]"),
      "spans" -> tracer.json,
      "spark" -> tasks.json,
      "queries" -> qes.json))
    Files.writeString(Paths.get(s"$out/result.json"), json)
  }

  private def dirBytes(path: String): (Long, Long) = {
    val f = new File(path)
    if (!f.exists()) (0L, 0L)
    else {
      val files = Files.walk(f.toPath).filter(Files.isRegularFile(_)).toArray
        .map(_.asInstanceOf[java.nio.file.Path])
      (files.length.toLong, files.map(Files.size).sum)
    }
  }

  private def rmTree(path: String): Unit = {
    val p = Paths.get(path)
    if (Files.exists(p)) Files.walk(p).sorted(java.util.Comparator.reverseOrder())
      .forEach(f => Files.delete(f))
  }

  /** CPU time of every thread of this JVM: executors, driver, JIT and GC. */
  private def cpuNanos(): Long = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  private def liveHeapBytes(): Long = {
    System.gc()
    System.gc()
    val rt = Runtime.getRuntime
    rt.totalMemory - rt.freeMemory
  }

  private def rows(df: DataFrame): Seq[Seq[Any]] = df.collect().map(_.toSeq).toSeq

  private def multiset(r: Seq[Seq[Any]]): Map[Seq[Any], Int] =
    r.groupBy(identity).map { case (k, v) => k -> v.size }

  trait Workload {
    def warmup(): Unit
    def pass(i: Int): Seq[(String, String)]
    /** Timed end-of-pass release, after the live heap is read. */
    def release(): Unit = ()
    def finish(): Unit = ()
  }

  /** A nightly batch: the reference's job pair, then the LLM-tier queries,
    * in one session.
    */
  final class BatchEtl(star: StarEtl, llm: LlmBatch) extends Workload {
    def warmup(): Unit = { star.warmup(); llm.warmup() }
    def pass(i: Int): Seq[(String, String)] = star.pass(i) ++ llm.pass(i)
    override def release(): Unit = llm.release()
    override def finish(): Unit = star.finish()
  }

  /** The reference's job pair: ingest the staged tables into a run-owned
    * lake, then transform the lake into the six mart tables.
    */
  final class StarEtl extends Workload {
    private val lake = s"$root/lake"
    private val mart = s"$out/mart"
    private val provider = IngestJob.ParquetProvider(input)
    private val counts = ArrayBuffer.empty[(Int, Map[String, Long])]

    /** The job's own ParquetSink, with the write timed as one operation. */
    final case class TimedSink(inner: ParquetSink, kind: String, outer: Option[String])
        extends Sink {
      def write(df: DataFrame): Unit = op(kind) {
        def body(): Unit = span("sources.ParquetSink.write") { inner.write(df) }
        outer.fold(body())(s => span(s)(body()))
      }.getOrElse(throw new RuntimeException(s"$kind failed"))
    }

    private def runPass(): Map[String, Long] = {
      span("jobs.IngestJob") {
        IngestJob.run(spark, provider,
          t => TimedSink(ParquetSink(s"$lake/$t.parquet"), s"ingest.$t", None))
      }
      span("jobs.TransformJob") {
        TransformJob.run(spark, lake, n => TimedSink(ParquetSink(s"$mart/$n"),
          s"transform.$n", Some(s"jobs.TransformJob.$n")))
      }
    }

    def warmup(): Unit = {
      counts += -1 -> runPass()
      val sql = graft.operators.StarSchema.oracles.filter { case (k, _) =>
        TransformJob.outputSchemas.contains(k) }
      Files.writeString(Paths.get(s"$mart/oracle_sql.json"),
        Json.obj(sql.toSeq.map { case (k, v) => k -> Json.str(v) }))
    }

    def pass(i: Int): Seq[(String, String)] = {
      val c = try runPass() catch { case NonFatal(_) => Map.empty[String, Long] }
      counts += i -> c
      val (files, bytes) = if (tracer.enabled) {
        val l = dirBytes(lake); val m = dirBytes(mart)
        (l._1 + m._1, l._2 + m._2)
      } else (0L, 0L)
      Seq("sink_files" -> files.toString, "sink_bytes" -> bytes.toString)
    }

    override def finish(): Unit =
      Files.writeString(Paths.get(s"$out/star_counts.json"), counts.map { case (p, m) =>
        Json.obj(Seq("pass" -> p.toString,
          "counts" -> Json.obj(m.toSeq.map { case (k, v) => k -> v.toString })))
      }.mkString("[", ",", "]"))
  }

  /** Named registry queries materialized in a seed-permuted order, with
    * the library's session caches released between passes.
    */
  final class LlmBatch extends Workload {
    private val queries = conf.list("queries")
    private val registry = SparkEntry.queries
    private val modules: Seq[(String, Set[String])] = Seq(
      "Curation" -> Curation.queries.keySet, "Dedup" -> Dedup.queries.keySet,
      "TextAnalysis" -> TextAnalysis.queries.keySet, "Similarity" -> Similarity.queries.keySet,
      "Multimodal" -> Multimodal.queries.keySet, "Retrieval" -> Retrieval.queries.keySet,
      "Relational" -> Relational.queries.keySet)
    private def moduleOf(q: String): String =
      modules.find(_._2.contains(q)).map(_._1).getOrElse("Other")

    private def reset(): Unit = span("CacheLifecycle.reset") {
      CacheLifecycle.unpersistAll()
      spark.catalog.clearCache()
    }

    def warmup(): Unit = {
      queries.foreach { q =>
        op(s"warmup.$q") {
          // one file in the query's order, as graft.Verify writes it for
          // tools/check_oracle.py
          registry(q)(spark, input).coalesce(1).write.mode("overwrite")
            .parquet(s"$out/llm/$q")
        }
      }
      reset()
      Files.writeString(Paths.get(s"$out/llm/oracle_sql.json"),
        Json.obj(queries.map(q => q -> Json.str(SparkEntry.oracleSql(q)))))
    }

    def pass(i: Int): Seq[(String, String)] = {
      val order = new scala.util.Random(seed * 7919L + i).shuffle(queries)
      order.foreach { q =>
        val m = moduleOf(q)
        op(s"query.$q") {
          val df = span(s"operators.$m.build") { registry(q)(spark, input) }
          span(s"operators.$m.run") { df.write.format("noop").mode("overwrite").save() }
        }
      }
      Nil
    }

    override def release(): Unit = reset()
  }

  /** Writes beside reads on two doc-keyed maintained tiers, the tf index
    * and the versioned term-stats table: seed from a history split, fold
    * one micro-batch through each tier's fold entry point (the
    * `foreachBatch` body of its stream), serve a BM25 probe from the tf
    * index beside the uncompacted batch, read as-of and changes across the
    * fold, compact the tiers that have a compaction entry point, erase a
    * forget list from every tier and serve again.
    */
  final class IndexMaintenance extends Workload {
    import spark.implicits._
    private val im = s"$input/im"
    private val history = spark.read.parquet(s"$im/history.parquet").cache()
    private val batch = spark.read.parquet(s"$im/batch.parquet").cache()
    private val nDocsFolded = history.count() + batch.count()
    private val forgetIds = spark.read.parquet(s"$im/forget.parquet")
      .as[Long].collect().toSeq
    private val probes: Map[Int, String] = spark.read.parquet(s"$im/probes.parquet")
      .as[(Int, String)].collect().toMap
    private val allDocs = history.unionByName(batch)
    private val forgotten = allDocs.filter(col("doc_id").isin(forgetIds: _*)).cache()
    private val forgetDf = forgetIds.toDF("doc_id")
    // served results of the verified warm-up pass, per probe step
    private val verified = scala.collection.mutable.Map.empty[Int, Seq[Seq[Any]]]
    private var warm = true
    private var stateBytes = Seq.empty[(String, (Long, Long))]

    /** One maintained tier under a state root: its entry points, and the
      * doc-id columns of its stored tables for the erasure check.
      */
    final case class Tier(name: String, dir: String, seed: () => Unit,
        fold: DataFrame => Unit, compact: Option[() => Unit],
        erase: () => Unit, docIds: () => Seq[DataFrame])

    // the seed is version 0 of every tier, the fold version 1 and the
    // versioned erasure version 2
    private def tiers(root: String): Seq[Tier] = {
      val tf = s"$root/tf_index"; val terms = s"$root/term_stats"
      Seq(
        Tier("tf", tf, () => EventStream.tfIndexSeed(spark, tf, history),
          b => EventStream.tfIndexFoldBatch(spark, tf, b, 1L),
          Some(() => EventStream.compactTfIndex(spark, tf)),
          () => EventStream.forgetDocsFromTfIndex(spark, tf, forgetDf),
          () => Seq(EventStream.tfIndexRead(spark, tf))),
        Tier("term_stats", terms, () => EventStream.seedVersionedState(
            TextAnalysis.termStatsOf(TextAnalysis.termFreqsOf(history)), "term", terms),
          b => EventStream.termStatsFoldBatchVersioned(spark, terms, b, 1L), None,
          () => EventStream.termStatsForgetVersioned(spark, terms, forgotten, 2L),
          () => Nil))
    }

    private def queryOf(step: Int): DataFrame = Seq((1, probes(step))).toDF("query_id", "q_text")
    private def nDocs(n: Long): DataFrame = spark.range(1).select(lit(n).alias("n_docs"))

    private def serve(tf: String, step: Int, n: Long, docs: => DataFrame): Unit = {
      val got = op("serve") {
        span("streaming.serve") {
          rows(TextAnalysis.bm25FromTf(EventStream.tfIndexRead(spark, tf), nDocs(n),
            queryOf(step)))
        }
      }
      got.foreach { g =>
        if (warm) check(s"bm25_served_equals_rebuild.$step") {
          val want = rows(TextAnalysis.bm25TopDocsOf(docs, queryOf(step)))
          verified(step) = want
          (g == want && want.nonEmpty, s"served=${g.take(5)} rebuild=${want.take(5)}")
        }
        else check(s"bm25_served_equals_verified.$step") {
          (verified.get(step).contains(g), s"served=${g.take(5)}")
        }
      }
    }

    def runOnce(root: String): Unit = {
      val ts = tiers(root)
      val tf = ts.head.dir
      op("seed") { span("streaming.seed") { ts.foreach(_.seed()) } }
      op("fold") { ts.foreach(t => span(s"streaming.${t.name}.fold") { t.fold(batch) }) }
      serve(tf, 1, nDocsFolded, allDocs)
      val read = op("asof") {
        span("streaming.asof") {
          (rows(EventStream.tfIndexReadAsOf(spark, tf, 0L)),
            rows(EventStream.tfIndexChanges(spark, tf, 0L, 1L)),
            rows(EventStream.tfIndexReadAsOf(spark, tf, 1L)))
        }
      }
      read.foreach { case (from, changes, to) =>
        check("asof_plus_changes_equals_asof") {
          (multiset(from ++ changes) == multiset(to) && changes.nonEmpty,
            s"asof(0)=${from.size} changes=${changes.size} asof(1)=${to.size}")
        }
      }
      op("compact") {
        ts.foreach(t => t.compact.foreach(c => span(s"streaming.${t.name}.compact")(c())))
      }
      op("erase") { ts.foreach(t => span(s"streaming.${t.name}.erase")(t.erase())) }
      val survivors = allDocs.filter(!col("doc_id").isin(forgetIds: _*))
      serve(tf, 0, nDocsFolded - forgetIds.size, survivors)
      if (warm) {
        check("erased_ids_absent") {
          val left = ts.flatMap(t => t.docIds().map(df =>
            t.name -> df.filter(col("doc_id").isin(forgetIds: _*)).count())).filter(_._2 > 0)
          (left.isEmpty, left.mkString(","))
        }
        check("term_stats_equal_survivor_rebuild") {
          val got = rows(EventStream.termStatsVersionedRead(spark, s"$root/term_stats"))
          val want = rows(TextAnalysis.termStatsOf(TextAnalysis.termFreqsOf(survivors)))
          (multiset(got) == multiset(want), s"got=${got.size} want=${want.size}")
        }
      }
      stateBytes = ts.map(t => t.name -> dirBytes(t.dir))
    }

    // the first warm-up pass verifies; the second settles the JIT, without
    // which the first timed pass took about half again the CPU of the next
    def warmup(): Unit = for (k <- 0 to 1) {
      runOnce(s"$root/im_warmup$k")
      warm = false
      rmTree(s"$root/im_warmup$k")
    }

    def pass(i: Int): Seq[(String, String)] = {
      val dir = s"$root/im_$i"
      runOnce(dir)
      excluded(rmTree(dir))
      stateBytes.flatMap { case (n, (files, bytes)) =>
        Seq(s"$n.state_files" -> files.toString, s"$n.state_bytes" -> bytes.toString) }
    }
  }
}

