package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.core.Collection
import graft.dedup.Dedup
import graft.ingest.{Embed, HashingEmbedder, Preprocess}
import graft.search.{FullText, GraphAnn, IvfIndex, Knn, TextSearch}
import org.apache.spark.graftbench.ListenerDrain
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** The benchmark's JVM side: builds the workload's collection and indexes
  * through the library's public calls, warms every op type by count, runs
  * whole rounds of the workload's fixed op sequence for the requested
  * seconds, and writes one JSON line per operation (latency, outputs and,
  * when traced, the per-layer split) for `perfbench/run.py` to check and
  * summarise.
  *
  * Usage: PerfMain <workload> <inputsDir> <workDir> <seconds> <trace 0|1>
  *        <outFile> <setups> <warmRounds>
  */
object PerfMain {
  final case class Opts(workload: String, inputs: String, work: String,
                        seconds: Double, trace: Boolean, out: String,
                        setups: Int, warmRounds: Int)

  def main(argv: Array[String]): Unit = {
    val o = Opts(argv(0), argv(1), argv(2), argv(3).toDouble, argv(4) == "1",
      argv(5), argv(6).toInt, argv(7).toInt)
    val cpus = Runtime.getRuntime.availableProcessors()
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.ui.enabled", "false")
    if (o.trace) b.config("spark.hadoop.fs.file.impl",
      classOf[CountingLocalFs].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val trace = if (o.trace) {
      val l = new TraceListener
      spark.sparkContext.addSparkListener(l)
      spark.listenerManager.register(l)
      Some(l)
    } else None
    val out = new Out(o.out)
    val run = new Runner(spark, out, trace)
    try {
      o.workload match {
        case "rag_serve" => new RagServe(spark, o, run).go()
        case "mixed_rw" => new MixedRw(spark, o, run).go()
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      out.line(Json.obj("t" -> Json.str("meta"),
        "peak_rss_mb" -> Json.num(peakRssMb),
        "jvm_start_to_end_s" -> Json.num((System.currentTimeMillis() -
          ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3)))
    } finally {
      out.close()
      spark.stop()
    }
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
}

/** Minimal JSON writing: the harness emits numbers, strings, arrays. */
object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'; sb.toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString
  def num(l: Long): String = l.toString
  def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}

final class Out(path: String) {
  private val w = Files.newBufferedWriter(Paths.get(path))
  def line(s: String): Unit = { w.write(s); w.newLine(); w.flush() }
  def close(): Unit = w.close()
}

/** Times one operation at a time (one client, closed loop) and, when
  * traced, attributes the listener events of its window to it. */
final class Runner(spark: SparkSession, out: Out,
                   trace: Option[TraceListener]) {
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
  private val jit = ManagementFactory.getCompilationMXBean
  private def gcMs = gcBeans.map(_.getCollectionTime).sum
  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)

  /** Round of the workload's op sequence the next op belongs to. */
  private var round = -1

  /** Extra per-op layer values the workload supplies (core.* gauges). */
  var gauges: () => Seq[(String, Double)] = () => Seq.empty

  /** Runs `body`, which returns the op's outputs as a JSON value and the
    * number of result rows, and writes the op's record. */
  def op(phase: String, name: String, q: Int)(body: => (String, Long)): Unit = {
    val fs0 = FsCounters.snapshot
    val emb0 = (EmbedCounters.texts.get, EmbedCounters.nanos.get)
    val bw0 = bytesWritten
    val gc0 = gcMs
    val jit0 = jit.getTotalCompilationTime
    if (trace.isDefined) { ListenerDrain(spark.sparkContext); trace.get.take()
      heapPools.foreach(_.resetPeakUsage()) }
    val w0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    val (ok, res, rows) =
      try { val (r, n) = body; (true, r, n) }
      catch { case e: Throwable => (false, Json.str(e.toString), 0L) }
    val ms = (System.nanoTime() - n0) / 1e6
    val w1 = System.currentTimeMillis()
    val fields = Seq("t" -> Json.str("op"), "phase" -> Json.str(phase),
      "op" -> Json.str(name), "q" -> Json.num(q.toLong),
      "r" -> Json.num(round.toLong),
      "ms" -> Json.num(ms), "ok" -> ok.toString, "res" -> res)
    val layers = trace.map { l =>
      ListenerDrain(spark.sparkContext)
      val a = l.take()
      val win = Span(w0, w1)
      val wall = (w1 - w0).toDouble
      val action = Spans.covered(a.jobSpans.toSeq, win).toDouble
      val busy = Spans.covered((a.jobSpans ++ a.phaseSpans).toSeq, win)
      val fs1 = FsCounters.snapshot
      val heapPeak = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
      val vals = Seq(
        "driver.call_ms" -> wall, "driver.action_ms" -> action,
        "driver.self_ms" -> (wall - busy),
        "catalyst.query_executions" -> a.qes.toDouble,
        "catalyst.analysis_ms" -> a.analysisMs.toDouble,
        "catalyst.optimization_ms" -> a.optimizationMs.toDouble,
        "catalyst.planning_ms" -> a.planningMs.toDouble,
        "spark.jobs" -> a.jobs.toDouble, "spark.stages" -> a.stages.toDouble,
        "spark.tasks" -> a.tasks.toDouble,
        "spark.job_ms" -> a.jobSpans.map(s => s.end - s.start).sum.toDouble,
        "spark.task_ms" -> a.taskMs.toDouble,
        "spark.task_cpu_ms" -> a.cpuNs / 1e6,
        "spark.task_gc_ms" -> a.gcMs.toDouble,
        "spark.shuffle_read_bytes" -> a.shuffleRead.toDouble,
        "spark.shuffle_write_bytes" -> a.shuffleWrite.toDouble,
        "spark.input_records" -> a.inRecords.toDouble,
        "spark.input_bytes" -> a.inBytes.toDouble,
        "spark.output_bytes" -> a.outBytes.toDouble,
        "fs.list_calls" -> (fs1(0) - fs0(0)).toDouble,
        "fs.status_calls" -> (fs1(1) - fs0(1)).toDouble,
        "fs.open_calls" -> (fs1(2) - fs0(2)).toDouble,
        "fs.create_calls" -> (fs1(3) - fs0(3)).toDouble,
        "fs.rename_delete_calls" -> (fs1(4) - fs0(4)).toDouble,
        "fs.bytes_written" -> (bytesWritten - bw0).toDouble,
        "ingest.embed_texts" -> (EmbedCounters.texts.get - emb0._1).toDouble,
        "ingest.embed_ms" -> (EmbedCounters.nanos.get - emb0._2) / 1e6,
        "search.result_rows" -> rows.toDouble,
        "jvm.gc_ms" -> (gcMs - gc0).toDouble,
        "jvm.jit_ms" -> (jit.getTotalCompilationTime - jit0).toDouble,
        "jvm.heap_used_peak_mb" -> heapPeak) ++ gauges()
      "layers" -> Json.obj(vals.map { case (k, v) => k -> Json.num(v) }: _*)
    }
    out.line(Json.obj(fields ++ layers: _*))
  }

  private def bytesWritten: Long =
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file").map(_.getBytesWritten).sum

  def setup(i: Int)(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    body
    out.line(Json.obj("t" -> Json.str("setup"), "i" -> Json.num(i.toLong),
      "s" -> Json.num((System.nanoTime() - t0) / 1e9)))
  }

  def mark(name: String): Unit =
    out.line(Json.obj("t" -> Json.str("mark"), "name" -> Json.str(name),
      "jvm_s" -> Json.num((System.currentTimeMillis() -
        ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3)))

  /** Warm-up rounds, then whole timed rounds until `seconds` have passed. */
  def loop(warmRounds: Int, seconds: Double)(body: (String, Int) => Unit): Unit = {
    (0 until warmRounds).foreach { r => this.round = r; body("warm", r) }
    mark("timed_start")
    val t0 = System.nanoTime()
    var r = warmRounds
    while ((System.nanoTime() - t0) / 1e9 < seconds) {
      this.round = r; body("timed", r); r += 1
    }
    this.round = -1
    mark("timed_end")
  }
}

object Res {
  /** (id, distance-or-score) rows as `{"ids":[..],"d":[..]}`. */
  def idDist(rows: Array[Row]): (String, Long) =
    (Json.obj("ids" -> Json.arr(rows.map(_.getLong(0).toString)),
      "d" -> Json.arr(rows.map(r => Json.num(r.getDouble(1))))),
      rows.length.toLong)

  /** (id_a, id_b, estimate) pairs. */
  def pairs(rows: Array[Row]): (String, Long) =
    (Json.obj("a" -> Json.arr(rows.map(_.getLong(0).toString)),
      "b" -> Json.arr(rows.map(_.getLong(1).toString)),
      "est" -> Json.arr(rows.map(r => Json.num(r.getDouble(2))))),
      rows.length.toLong)
}

/** Read-only serving over a small prepared collection. Its set-up is the
  * batch pipeline that prepares the collection: ingest, near-duplicate
  * detection, the IVF, graph and full-text builds, and one bulk search
  * over the fixed query set; each stage is timed and checked. */
final class RagServe(spark: SparkSession, o: PerfMain.Opts, run: Runner) {
  import spark.implicits._
  private val k = 10
  private val nprobe = 4
  private val embedder = new CountingEmbedder(new HashingEmbedder(64))
  private val spec = Spec.load(o.inputs)
  private val queries = spec.queries

  final case class Serving(corpus: DataFrame, docs: DataFrame,
                           model: IvfIndex.Model, adj: DataFrame,
                           uadj: DataFrame, uent: DataFrame, ftDir: String)

  private def build(i: Int, dir: String): Serving = {
    def stage(name: String)(body: => (String, Long)): Unit =
      run.op("setup", name, i)(body)
    val dc = Collection(spark, s"$dir/docs")
    stage("ingest") {
      dc.append(Embed.withEmbeddings(
        Preprocess(spark.read.parquet(s"${o.inputs}/docs.parquet"), "text"),
        "text_clean", "embedding", embedder))
      val back = dc.read
      val n = back.count()
      val sample = back.where(col("doc_id") < 40)
        .select(col("doc_id"), col("text_clean"),
          round(aggregate(col("embedding"), lit(0.0),
            (acc, x) => acc + x.cast("double") * x.cast("double")), 4))
        .orderBy("doc_id").collect()
      (Json.obj("rows" -> Json.num(n),
        "ids" -> Json.arr(sample.map(_.getLong(0).toString)),
        "clean" -> Json.arr(sample.map(x => Json.str(x.getString(1)))),
        "sq_norm" -> Json.arr(sample.map(x => Json.num(x.getDouble(2))))), n)
    }
    val docs = dc.read.select("doc_id", "text")
    stage("dedup_minhash") {
      Res.pairs(Dedup.minhashCandidates(docs, "doc_id", "text",
          numHashes = 16, bandSize = 2)
        .orderBy("id_a", "id_b").collect())
    }
    val vc = Collection(spark, s"$dir/vectors")
    vc.append(spark.read.parquet(s"${o.inputs}/vectors.parquet"))
    val corpus = vc.read
    var model: IvfIndex.Model = null
    stage("ivf_build") {
      // one input partition keeps the KMeans fit's summation order, and so
      // the IVF layout, identical from run to run
      model = IvfIndex.build(corpus.coalesce(1), "vec", s"$dir/ivf",
        nlist = 32, maxIter = 5)
      (Json.obj("nlist" -> Json.num(model.nlist.toLong)), 0L)
    }
    val p = GraphAnn.Params(maxIter = 5)
    def graph(df: DataFrame, d: String): DataFrame = {
      GraphAnn.buildAdjacency(df, "id", "vec", p).write.parquet(d)
      spark.read.schema(GraphAnn.adjacencySchema).parquet(d)
    }
    var adj, uadj, uent: DataFrame = null
    stage("graph_build") {
      adj = graph(corpus, s"$dir/graph/base")
      val sample = GraphAnn.upperSample(corpus, "id")
      uadj = graph(sample, s"$dir/graph/upper")
      GraphAnn.medoid(sample, "id", "vec").write.parquet(s"$dir/graph/entry")
      uent = spark.read.schema(GraphAnn.entrySchema).parquet(s"$dir/graph/entry")
      val st = adj.groupBy("src").count()
        .agg(count(lit(1)), max("count"), sum("count")).first()
      (Json.obj("nodes" -> Json.num(st.getLong(0)),
        "max_degree" -> Json.num(st.getLong(1)),
        "edges" -> Json.num(st.getLong(2))), st.getLong(0))
    }
    stage("fulltext_build") {
      FullText.build(docs, "doc_id", "text", s"$dir/fulltext", buckets = 16)
      val terms = spark.read.parquet(FullText.dictDir(s"$dir/fulltext")).count()
      (Json.obj("terms" -> Json.num(terms)), terms)
    }
    stage("bulk_search") {
      val rows = IvfIndex.bulkSearch(spark, model, "vec", "id",
        queries.indices.map(q => q.toLong -> queries(q)), k, nprobe).collect()
      (Json.obj("qid" -> Json.arr(rows.map(_.getLong(0).toString)),
        "ids" -> Json.arr(rows.map(_.getLong(1).toString)),
        "d" -> Json.arr(rows.map(x => Json.num(x.getDouble(2))))),
        rows.length.toLong)
    }
    Serving(corpus, dc.read.select("doc_id", "text"), model, adj, uadj, uent,
      s"$dir/fulltext")
  }

  private def question(s: Serving, q: Int): (String, Long) = {
    val rows = TextSearch.questionSearch(spark, s.docs, "doc_id", "text",
        spec.questions(q), embedder, topK = k, scoreThreshold = -1.0,
        roundTo = 4)
      .select(col("doc_id"), col("strategy_rank").cast("long"),
        col("distance"), col("score"))
      .orderBy(col("score").desc, col("doc_id").asc).collect()
    (Json.obj("ids" -> Json.arr(rows.map(_.getLong(0).toString)),
      "rank" -> Json.arr(rows.map(_.getLong(1).toString)),
      "d" -> Json.arr(rows.map(r => Json.num(r.getDouble(2))))),
      rows.length.toLong)
  }

  private def knn(s: Serving, q: Int): (String, Long) = {
    val qdf = Seq(Tuple1(queries(q).toSeq)).toDF("qv")
    Res.idDist(Knn.topK(s.corpus, "vec", "id", qdf, "qv", k)
      .select(col("id"), col("distance")).collect())
  }

  private def ivf(s: Serving, q: Int): (String, Long) =
    Res.idDist(IvfIndex.search(spark, s.model, "vec", "id", queries(q), k,
      nprobe).select(col("id"), col("distance")).collect())

  private def graph(s: Serving, q: Int): (String, Long) =
    Res.idDist(GraphAnn.layeredSearch(s.uadj, s.uent, s.adj, s.corpus, "id",
        "vec", queries(q), k, beamWidth = 6, upperRounds = 3, rounds = 4)
      .select(col("id"), col("distance")).collect())

  private def fulltext(s: Serving, q: Int): (String, Long) =
    Res.idDist(FullText.searchWand(spark, s.ftDir, spec.termQueries(q), k)
      .select(col("id"), col("score")).collect())

  def go(): Unit = {
    run.mark("session_ready")
    var s: Serving = null
    (0 until o.setups).foreach(i =>
      run.setup(i) { s = build(i, s"${o.work}/s$i") })
    run.gauges = () => DataFiles.gauges(IvfIndex.dataDir(s.model.indexDir),
      spec.nVectors)
    // knn and ivf cost about a tenth of the other three, so a round runs
    // each of them three times (on queries 3r, 3r+1, 3r+2), which gives
    // their medians as many samples as the round's time allows; the other
    // three run once, on query r
    val ops = Seq[(String, (Serving, Int) => (String, Long), Int)](
      ("knn", knn, 0), ("ivf", ivf, 0), ("question", question, -1),
      ("knn", knn, 1), ("ivf", ivf, 1), ("graph", graph, -1),
      ("knn", knn, 2), ("ivf", ivf, 2), ("fulltext", fulltext, -1))
    run.loop(o.warmRounds, o.seconds) { (phase, r) =>
      ops.foreach { case (name, f, j) =>
        val q = (if (j < 0) r else r * 3 + j) % queries.length
        run.op(phase, name, q)(f(s, q))
      }
    }
  }
}

/** IVF reads interleaved with upserts, deletes and compactions, in whole
  * maintenance cycles. */
final class MixedRw(spark: SparkSession, o: PerfMain.Opts, run: Runner) {
  import spark.implicits._
  private val k = 10
  private val nprobe = 4
  private val spec = Spec.load(o.inputs)
  private val queries = spec.queries
  private var ver = 0L
  private var reads = 0

  private def read(model: IvfIndex.Model, qv: Array[Float]): (String, Long) =
    Res.idDist(IvfIndex.search(spark, model, "vec", "id", qv, k, nprobe)
      .select(col("id"), col("distance")).collect())

  def go(): Unit = {
    run.mark("session_ready")
    var model: IvfIndex.Model = null
    (0 until o.setups).foreach { i => run.setup(i) {
      val vc = Collection(spark, s"${o.work}/s$i/vectors")
      vc.append(spark.read.parquet(s"${o.inputs}/vectors.parquet"))
      model = IvfIndex.build(vc.read.coalesce(1), "vec",
        s"${o.work}/s$i/ivf", nlist = 32, maxIter = 5)
    } }
    val dataDir = IvfIndex.dataDir(model.indexDir)
    run.gauges = () => DataFiles.gauges(dataDir, spec.nVectors)
    val nCycles = spec.upsertIds.length
    def readOp(phase: String): Unit = {
      val q = reads % queries.length
      reads += 1
      run.op(phase, "ivf", q)(read(model, queries(q)))
    }
    def write(phase: String, name: String, c: Int)(body: => Unit): Unit =
      run.op(phase, name, c) { body; ("null", 0L) }
    run.loop(o.warmRounds, o.seconds) { (phase, r) =>
      val c = r % nCycles
      val ups = spec.upsertIds(c)
      readOp(phase)
      ver += 1
      write(phase, "upsert", c) {
        IvfIndex.upsertBatch(ups.indices.map(j =>
            (ups(j), spec.moved(c * ups.length + j).toSeq)).toDF("id", "vec"),
          "vec", model, "id", ver)
      }
      // freshness probe: the first upserted vector must come back at 0
      run.op(phase, "probe", c)(read(model, spec.moved(c * ups.length)))
      readOp(phase)
      write(phase, "delete", c) {
        IvfIndex.delete(spec.deleteIds(c).toDF("id"), model, "id")
      }
      if (r == 0) run.op("recall", "bulk_search", 0) {
        val rows = IvfIndex.bulkSearch(spark, model, "vec", "id",
          queries.indices.map(q => q.toLong -> queries(q)), k, nprobe)
          .collect()
        (Json.obj("qid" -> Json.arr(rows.map(_.getLong(0).toString)),
          "ids" -> Json.arr(rows.map(_.getLong(1).toString)),
          "d" -> Json.arr(rows.map(x => Json.num(x.getDouble(2))))),
          rows.length.toLong)
      }
      readOp(phase)
      write(phase, "compact_versions", c) {
        IvfIndex.compactVersions(spark, model, "id")
      }
      write(phase, "compact_tombstones", c) {
        IvfIndex.compactTombstones(spark, model, "id")
      }
    }
  }
}

/** The generated spec (`spec.json`); the vectors the harness needs on the
  * driver ride in it too, so no Spark job runs before set-up. */
final case class Spec(questions: IndexedSeq[String],
                      termQueries: IndexedSeq[Seq[String]],
                      upsertIds: IndexedSeq[Seq[Long]],
                      deleteIds: IndexedSeq[Seq[Long]], nVectors: Long,
                      queries: IndexedSeq[Array[Float]],
                      moved: IndexedSeq[Array[Float]])

object Spec {
  def load(dir: String): Spec = {
    import com.fasterxml.jackson.databind.JsonNode
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Paths.get(s"$dir/spec.json").toFile)
    def lists[T](field: String, f: JsonNode => T): IndexedSeq[Seq[T]] =
      Option(m.get(field)).map(_.elements().asScala
        .map(l => l.elements().asScala.map(f).toSeq).toIndexedSeq)
        .getOrElse(IndexedSeq.empty)
    def vecs(field: String) =
      lists(field, _.floatValue).map(_.toArray)
    Spec(Option(m.get("questions")).map(_.elements().asScala.map(_.asText)
        .toIndexedSeq).getOrElse(IndexedSeq.empty),
      lists("term_queries", _.asText), lists("upsert_ids", _.asLong),
      lists("delete_ids", _.asLong), m.get("n_vectors").asLong,
      vecs("queries"), vecs("moved"))
  }
}

/** Data-layout gauges for the traced run: parquet data files under a
  * directory and their bytes per live row, relative to the first
  * observation (a freshly built layout reads 1.0). */
object DataFiles {
  private var bytesPerRow0 = -1.0
  def gauges(dir: String, liveRows: Long): Seq[(String, Double)] = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) return Seq.empty
    val files = Files.walk(p).iterator().asScala
      .filter(f => Files.isRegularFile(f) && f.getFileName.toString.endsWith(".parquet"))
      .toSeq
    val bytes = files.map(f => Files.size(f)).sum.toDouble
    val perLive = if (liveRows > 0) {
      if (bytesPerRow0 < 0) bytesPerRow0 = bytes / liveRows
      bytes / liveRows / bytesPerRow0
    } else 1.0
    Seq("core.data_files" -> files.length.toDouble,
      "core.bytes_per_live_byte" -> perLive)
  }
}
