package graft.perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.GraftSession
import graft.graph.{CommunitySample, Graph, GraphBuilder, Gx, GxBetweenness, Iterative}
import graft.operators.{Ann, Dedup}
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One benchmark run of one workload in its own JVM.
  *
  * Usage: PerfBench <workload> <inputDir> <warmupDir> <outDir> <seconds> <trace> <cpus>
  *
  * Set-up = session creation plus one warm-up pass over `warmupDir` (a
  * small input of the same shape). Then timed passes over `inputDir`
  * run until `seconds` have elapsed. Every pass reads its own copy of
  * the input (a distinct path), builds fresh `Graph` objects, and ends
  * by releasing everything persisted, so no pass is served by the
  * previous pass's memos or by Spark's cache manager. The first timed
  * pass's outputs are written to `outDir/check` for the independent
  * checks; `outDir/result.json` holds per-pass timings and counts.
  */
object PerfBench {
  val SpanProp = "perfbench.span"

  val GraphSpans = Seq("graph.build", "graph.degree", "graph.triangles",
    "gx.lpa", "gx.components", "sample.walk", "sample.metrics",
    "gx.betweenness", "gx.closeness", "gx.diameter")
  val CurationSpans = Seq("dedup.pairs", "dedup.components",
    "dedup.index_write", "dedup.delta_probe", "ann.ivf", "ann.brute")

  /** Job, task, CPU and shuffle counts per span label `pass|span`.
    * Untraced runs count jobs only. */
  final class SpanListener(traced: Boolean) extends SparkListener {
    final class Acc {
      var jobs = 0; var tasks = 0L; var cpuNs = 0L; var shuffleWrite = 0L
      val intervals = mutable.ArrayBuffer.empty[(Long, Long)]
    }
    val accs = new ConcurrentHashMap[String, Acc]()
    private val stageLabel = new ConcurrentHashMap[Int, String]()
    private val jobStart = new ConcurrentHashMap[Int, (String, Long)]()

    def acc(label: String): Acc = accs.computeIfAbsent(label, _ => new Acc)

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val label = Option(e.properties).map(_.getProperty(SpanProp)).orNull
      if (label != null) {
        val a = acc(label)
        a.synchronized { a.jobs += 1 }
        if (traced) {
          e.stageIds.foreach(s => stageLabel.put(s, label))
          jobStart.put(e.jobId, (label, e.time))
        }
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      if (traced) Option(jobStart.remove(e.jobId)).foreach { case (label, t0) =>
        val a = acc(label)
        a.synchronized { a.intervals += ((t0, e.time)) }
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (traced && e.taskMetrics != null) {
        val label = stageLabel.get(e.stageId)
        if (label != null) {
          val a = acc(label)
          a.synchronized {
            a.tasks += 1
            a.cpuNs += e.taskMetrics.executorCpuTime
            a.shuffleWrite += e.taskMetrics.shuffleWriteMetrics.bytesWritten
          }
        }
      }
  }

  final case class SpanTime(name: String, t0: Long, t1: Long, wallNs: Long,
                            storedBefore: Long, storedAfter: Long)

  /** One pass: names its spans, times them, records scalar outputs. */
  final class Pass(spark: SparkSession, val label: String, traced: Boolean) {
    val spans = mutable.ArrayBuffer.empty[SpanTime]
    val scalars = mutable.LinkedHashMap.empty[String, Any]

    def span[T](name: String)(body: => T): T = {
      spark.sparkContext.setLocalProperty(SpanProp, s"$label|$name")
      val before = if (traced) storedBytes(spark) else 0L
      val t0 = System.currentTimeMillis()
      val n0 = System.nanoTime()
      try body
      finally {
        val wall = System.nanoTime() - n0
        val t1 = System.currentTimeMillis()
        val after = if (traced) storedBytes(spark) else 0L
        spans += SpanTime(name, t0, t1, wall, before, after)
        spark.sparkContext.setLocalProperty(SpanProp, s"$label|-")
      }
    }
  }

  /** Memory plus disk held by persisted RDDs and tables. */
  def storedBytes(spark: SparkSession): Long =
    spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum

  /** Drop everything persisted: cached tables and every persisted RDD
    * (GraphX graphs, local checkpoints, the program's memo leaves). */
  def releaseAll(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  // ---------------------------------------------------------------- graph

  final class GraphOut(val tri: DataFrame, val comms: DataFrame,
                       val cc: DataFrame, val sample: DataFrame,
                       val sampleEdges: DataFrame, val bfs: DataFrame,
                       val closeness: DataFrame, val betweenness: DataFrame)

  /** The reference pipeline's operation sequence (graph → LPA(5) →
    * community random-walk sample → metrics) plus the centralities. */
  def graphPass(spark: SparkSession, p: Pass, dir: String): GraphOut = {
    val g = p.span("graph.build") {
      val e = spark.read.parquet(s"$dir/edges.parquet")
      val g = Graph(GraphBuilder.vertices(e), e)
      p.scalars("n_vertices") = g.vertexCount
      p.scalars("n_edges") = g.edges.count()
      g.degrees
      g
    }
    p.span("graph.degree") {
      val hist = g.degreeHistogram.orderBy("degree").collect()
      p.scalars("degree_histogram") = hist.toSeq.map(r => Seq(r.getLong(0), r.getLong(1)))
      p.scalars("avg_degree") = g.degrees.agg(avg("degree")).head().getDouble(0)
    }
    val tri = p.span("graph.triangles") {
      val tri = GraphBuilder.triangles(g)
      p.scalars("triangles") = tri.agg(sum("triangles")).head().getLong(0) / 3
      p.scalars("avg_clustering") = g.averageClustering(tri).head().getDouble(0)
      p.scalars("transitivity") = g.transitivity(tri).head().getDouble(0)
      tri
    }
    val comms = p.span("gx.lpa") {
      val c = GraphBuilder.communities(spark, g, 5)
      p.scalars("communities") = c.select("community").distinct().count()
      c
    }
    val cc = p.span("gx.components") {
      val cc = Gx.connectedComponents(g)
      p.scalars("components") = cc.select("component").distinct().count()
      cc
    }
    val sample = p.span("sample.walk") {
      val s = CommunitySample.sample(spark, g)
      p.scalars("sample_vertices") = s.count()
      s
    }
    val sampleEdges = p.span("sample.metrics") {
      val ids = sample.select("id")
      val se = g.inducedSubgraphEdges(ids)
      val sg = Graph(ids, se)
      p.scalars("sample_edges") = se.count()
      p.scalars("sample_avg_degree") = sg.degrees.agg(avg("degree")).head().getDouble(0)
      p.scalars("sample_avg_clustering") = sg.averageClustering.head().getDouble(0)
      p.scalars("sample_transitivity") = sg.transitivity.head().getDouble(0)
      se
    }
    val betweenness = p.span("gx.betweenness") {
      val b = GxBetweenness.run(g)
      p.scalars("betweenness_max") = b.agg(max("betweenness")).head().getDouble(0)
      b
    }
    val (bfs, closeness) = p.span("gx.closeness") {
      val d = GraphBuilder.landmarkBfs(g)
      val c = Iterative.closenessFrom(d)
      p.scalars("closeness_mean") = c.agg(avg("closeness")).head().getDouble(0)
      (d, c)
    }
    p.span("gx.diameter") {
      p.scalars("diameter") = GraphBuilder.diameter(g).head().getInt(0).toLong
    }
    new GraphOut(tri, comms, cc, sample, sampleEdges, bfs, closeness, betweenness)
  }

  def dumpGraph(o: GraphOut, out: String): Unit = {
    def w(df: DataFrame, name: String): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$out/$name")
    w(o.tri, "triangles")
    w(o.comms, "communities")
    w(o.cc, "components")
    w(o.sample, "sample")
    w(o.sampleEdges, "sample_edges")
    w(o.bfs, "bfs")
    w(o.closeness, "closeness")
    w(o.betweenness, "betweenness")
  }

  // ------------------------------------------------------------- curation

  final class CurationOut(val pairs: DataFrame, val comps: DataFrame,
                          val deltaPairs: DataFrame, val ivf: DataFrame,
                          val brute: DataFrame)

  val NQueries = 40
  val K = 10

  /** Near-dup pairs and components over base ∪ delta, a band index of
    * the base probed with the delta, then IVF and brute-force kNN. */
  def curationPass(spark: SparkSession, p: Pass, dir: String): CurationOut = {
    val base = spark.read.parquet(s"$dir/base.parquet")
    val delta = spark.read.parquet(s"$dir/delta.parquet")
    val all = base.union(delta)
    val pairs = p.span("dedup.pairs") {
      val pr = Dedup.cachedMinhashPairs(dir, all, 0.8)
      p.scalars("pairs") = pr.count()
      pr
    }
    val comps = p.span("dedup.components") {
      val c = Dedup.nearDupComponents(spark, all, dir, 0.8)
      p.scalars("dup_components") = c.select("component").distinct().count()
      c
    }
    p.span("dedup.index_write") {
      Dedup.writeBandIndex(base, s"$dir/band_index")
    }
    val deltaPairs = p.span("dedup.delta_probe") {
      val idx = Dedup.loadBandIndex(spark, s"$dir/band_index")
      collected(p, "delta_pairs", Dedup.deltaDupPairs(idx, delta, 0.8))
    }
    val ivf = p.span("ann.ivf") {
      collected(p, "ivf_rows", Ann.knnIvf(spark, s"$dir/emb", NQueries, K))
    }
    val brute = p.span("ann.brute") {
      collected(p, "brute_rows", Ann.knnBrute(spark, s"$dir/emb", NQueries, K))
    }
    new CurationOut(pairs, comps, deltaPairs, ivf, brute)
  }

  /** Collect `df` (the action the span times) and keep the rows as a
    * local table for the checks. */
  def collected(p: Pass, name: String, df: DataFrame): DataFrame = {
    val rows = df.collect()
    p.scalars(name) = rows.length.toLong
    df.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
  }

  def dumpCuration(o: CurationOut, out: String): Unit = {
    def w(df: DataFrame, name: String): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$out/$name")
    w(o.pairs, "pairs")
    w(o.comps, "dup_components")
    w(o.deltaPairs, "delta_pairs")
    w(o.ivf, "ivf")
    w(o.brute, "brute")
  }

  // ----------------------------------------------------------------- run

  def copyDir(from: Path, to: Path): Unit =
    Files.walk(from).iterator().asScala.foreach { src =>
      val dst = to.resolve(from.relativize(src))
      if (Files.isDirectory(src)) Files.createDirectories(dst)
      else Files.copy(src, dst, StandardCopyOption.REPLACE_EXISTING)
    }

  def deleteDir(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1000.0

  def json(v: Any): String = v match {
    case s: String => "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case xs: Seq[_] => xs.map(json).mkString("[", ",", "]")
    case x => x.toString
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, inputDir, warmupDir, outDir, secondsArg, traceArg, cpusArg) = args
    val seconds = secondsArg.toDouble
    val traced = traceArg == "1"
    val work = Paths.get(outDir).toAbsolutePath
    Files.createDirectories(work)

    val spark = GraftSession.builder("perfbench", cpusArg.toInt)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.driver.host", "localhost")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val startMs = ManagementFactory.getRuntimeMXBean.getStartTime
    System.err.println(s"[perfbench] session ready after ${System.currentTimeMillis() - startMs} ms")
    val listener = new SpanListener(traced)
    spark.sparkContext.addSparkListener(listener)

    val isGraph = workload != "curation"
    val (spanNames, otherSpans) =
      if (isGraph) (GraphSpans, CurationSpans) else (CurationSpans, GraphSpans)
    // copies the input to a path of its own, then times the pass
    def runPass(label: String, src: String): (Pass, Any, Path, Long) = {
      val dir = work.resolve(s"in-$label")
      deleteDir(dir)
      copyDir(Paths.get(src), dir)
      val p = new Pass(spark, label, traced)
      val t0 = System.nanoTime()
      val out = if (isGraph) graphPass(spark, p, dir.toString)
                else curationPass(spark, p, dir.toString)
      val wall = System.nanoTime() - t0
      // the other module family's spans enclose no calls on this
      // workload; they are opened so every trace names all 16 spans
      otherSpans.foreach(n => p.span(n)(()))
      spark.sparkContext.setLocalProperty(SpanProp, null)
      (p, out, dir, wall)
    }

    // ---- set-up: one warm-up pass on the small input ----
    locally {
      val (_, _, dir, _) = runPass("warmup", warmupDir)
      releaseAll(spark)
      deleteDir(dir)
    }
    val readyMs = System.currentTimeMillis()
    System.err.println(s"[perfbench] warm-up done after ${readyMs - startMs} ms")
    val gc0 = gcSeconds()

    // ---- timed passes ----
    val passes = mutable.ArrayBuffer.empty[(Pass, Long, Long)] // pass, wallNs, retained
    val start = System.nanoTime()
    var i = 0
    while (i < 1 || (System.nanoTime() - start) / 1e9 < seconds) {
      val (p, out, dir, wall) = runPass(s"p$i", inputDir)
      val retained = storedBytes(spark)
      if (i == 0) {
        val chk = work.resolve("check").toString
        out match {
          case o: GraphOut => dumpGraph(o, chk)
          case o: CurationOut => dumpCuration(o, chk)
        }
      }
      releaseAll(spark)
      deleteDir(dir)
      passes += ((p, wall, retained))
      System.err.println(f"[perfbench] pass $i: ${wall / 1e9}%.2f s")
      i += 1
    }
    val gcS = gcSeconds() - gc0
    org.apache.spark.PerfBenchAccess.drainListeners(spark.sparkContext)

    // ---- result ----
    val sb = new StringBuilder
    sb ++= s"""{"workload":${json(workload)},"ready_ms":$readyMs,"gc_s":$gcS,"""
    sb ++= s""""spans_called":${spanNames.map(json).mkString("[", ",", "]")},"passes":["""
    sb ++= passes.map { case (p, wall, retained) =>
      val jobs = listener.accs.asScala.collect {
        case (k, a) if k.startsWith(p.label + "|") => a.jobs
      }.sum
      val spanJson = p.spans.map { s =>
        val a = Option(listener.accs.get(s"${p.label}|${s.name}"))
        val ivs = a.map(_.intervals.toSeq).getOrElse(Seq.empty)
          .map { case (x, y) => (math.max(x, s.t0), math.min(y, s.t1)) }
          .filter { case (x, y) => y > x }.sortBy(_._1)
        var busy = 0L; var end = Long.MinValue
        ivs.foreach { case (x, y) =>
          if (x > end) { busy += y - x; end = y }
          else if (y > end) { busy += y - end; end = y }
        }
        val wallS = s.wallNs / 1e9
        s"""${json(s.name)}:{"wall_s":$wallS,"jobs":${a.map(_.jobs).getOrElse(0)},""" +
          s""""tasks":${a.map(_.tasks).getOrElse(0L)},""" +
          s""""driver_only_s":${math.max(0.0, wallS - busy / 1e3)},""" +
          s""""executor_cpu_s":${a.map(_.cpuNs).getOrElse(0L) / 1e9},""" +
          s""""shuffle_write_mb":${a.map(_.shuffleWrite).getOrElse(0L) / 1048576.0},""" +
          s""""retained_mb":${(s.storedAfter - s.storedBefore) / 1048576.0}}"""
      }.mkString("{", ",", "}")
      val sc = p.scalars.map { case (k, v) => s"${json(k)}:${json(v)}" }.mkString("{", ",", "}")
      s"""{"wall_s":${wall / 1e9},"retained_mb":${retained / 1048576.0},""" +
        s""""jobs":$jobs,"spans":$spanJson,"scalars":$sc}"""
    }.mkString(",")
    sb ++= "]}"
    val pw = new PrintWriter(new File(work.resolve("result.json").toString))
    pw.write(sb.toString)
    pw.close()
    spark.stop()
  }
}
