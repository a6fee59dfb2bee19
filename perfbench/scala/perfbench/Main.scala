package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators._
import graft.pipeline.{Pipeline, Stage}
import graft.testing.{DataTestCase, Mutant, PlainFrame, ValueMutant}

/** The benchmark's JVM side. `run` mode starts a pinned local session, sets
  * up, warms up, then runs the workload's operations in a closed loop for
  * the given seconds and writes one JSON result file; outputs are written
  * to parquet for the caller to check against the DuckDB oracle. `oracles`
  * mode dumps the repo's oracle SQL for the benchmarked queries.
  *
  *   run --workload corpus|interval --data DIR --out DIR
  *       --seconds N --trace 0|1 --result FILE
  *   oracles FILE
  */
object Main {

  val Cores = 4

  val OracleQueries = Seq("pipeline_curate", "pipeline_pretrain_bpe",
    "interval_lsfe")

  def main(args: Array[String]): Unit = args.toList match {
    case "oracles" :: out :: Nil =>
      val sql = graft.SparkEntry.oracleSqlFor("bench")
      write(out, Json(OracleQueries.map(q => q -> sql(q)).toMap))
    case "run" :: rest =>
      val kv = rest.grouped(2).map { case Seq(k, v) => k.stripPrefix("--") -> v }.toMap
      new Run(kv).run()
    case other =>
      System.err.println(s"usage: run --workload W ... | oracles FILE (got $other)")
      sys.exit(2)
  }

  def write(path: String, s: String): Unit =
    Files.writeString(Paths.get(path), s)

  /** The pinned session: the same local-mode settings as the repo's Bench
    * and Verify mains (local[cores], shuffle partitions = cores, UTC,
    * nanosAsLong), AQE at its default, scratch space inside `local`.
    */
  def session(local: String): SparkSession =
    SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", local)
      .config("spark.sql.warehouse.dir", s"$local/warehouse")
      .getOrCreate()

  /** Run `p` with every stage wrapped in a span named by its label. */
  def traced(p: Pipeline, tr: Tracer): Pipeline =
    if (!tr.enabled) p
    else new Pipeline(p.stages.map(s => Stage(s.label, d => tr(s.label)(s.transform(d)))))
}

/** One operation kind of a workload: `run(n, tracer)` performs operation
  * number `n` of the kind and returns the path it wrote, if any; a loop
  * round runs `perRound` operations of each kind in turn.
  */
final case class OpKind(name: String, perRound: Int,
                        run: (Int, Tracer) => Option[String])

final class Run(kv: Map[String, String]) {
  import Main._

  private val workload = kv("workload")
  private val data = kv("data")
  private val out = kv("out")
  private val seconds = kv("seconds").toDouble
  private val trace = kv("trace") == "1"
  private val local = s"$out/spark-local"

  private val tr = new Tracer
  private val rec = new Recorder
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis()

  private var spark: SparkSession = _
  private val records = ArrayBuffer.empty[Map[String, Any]]

  private def kinds(s: SparkSession): Seq[OpKind] = workload match {
    case "corpus" =>
      val docs = s"$data/documents.parquet"
      Seq(OpKind("curate", 1, (n, t) => writeOut(s"curate_$n",
        curate(s, docs, t), t)),
        OpKind("pretrain", 1, (n, t) => writeOut(s"pretrain_$n",
          pretrain(s, docs, t), t)))
    case "interval" =>
      val ev = s"$data/events.parquet"
      val cases = CaseSpec.load(s"$data/cases.txt")
      Seq(OpKind("window", 1, (n, t) => writeOut(s"window_$n",
        window(s, ev, t), t)),
        // one block of the generator's stratified cases per round
        OpKind("case", 10, (n, t) => {
          cases(Math.floorMod(n, cases.size)).run(s, t)
          None
        }))
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  private def writeOut(name: String, df: => DataFrame, t: Tracer): Option[String] = {
    val path = s"$out/$name"
    val built = t("build")(df)
    t("exec")(built.write.mode("overwrite").parquet(path))
    Some(path)
  }

  private def curate(s: SparkSession, docs: String, t: Tracer): DataFrame =
    traced(graft.pipeline.Curation.pipeline(), t)
      .transform(s.read.parquet(docs))
      .select("doc_id", "lang", "n_chars", "n_tokens", "quality_score",
        "cum_bytes", "shard")
      .orderBy("doc_id")

  /** `pipeline_pretrain_bpe` exactly as registered: the vocab is learned
    * once on the full corpus, the pipeline runs on the gated stream.
    */
  private def pretrain(s: SparkSession, docs: String, t: Tracer): DataFrame = {
    val d = s.read.parquet(docs)
    val vocab = t("vocab")(Tokenize.VocabBuild().transform(d))
    val p = new Pipeline(Seq(
      Stage(Corpus.QuantileBandFilter(Seq("lang"), "n_chars")),
      Stage.of("cut_gate")(_.localCheckpoint()),
      Stage.of("encode")(g => g.join(
        Tokenize.BpeEncode(vocab, emitPieces = true).transform(g),
        Seq("doc_id"))),
      Stage.of("cut_enc")(_.localCheckpoint()),
      Stage(Corpus.MixTemperature(totalBudget = 8000L,
        tokenCountColumn = "n_bpe_tokens")),
      Stage(ChunkSplit(chunkTokens = 24, overlapTokens = 6,
        tokenArrayColumn = "bpe_pieces")),
      Stage.of("chunk_key")(_.withColumn("chunk_key",
        col("doc_id") * 100000L + col("chunk_idx"))),
      Stage.of("cut")(_.localCheckpoint()),
      Stage(Corpus.ShardPack(orderColumn = "chunk_key",
        sizeColumn = "n_chunk_tokens", targetBytes = 256L))))
    traced(p, t).transform(d)
      .select(col("doc_id"), col("chunk_idx"), col("n_chunk_tokens"),
        col("cum_bytes").as("cum_tokens"), col("shard").as("pack_id"))
      .orderBy("doc_id", "chunk_idx")
  }

  /** The window identifier with the `interval_lsfe` parameters. */
  private def window(s: SparkSession, events: String, t: Tracer): DataFrame =
    new IntervalIdentifier("event_type", "signup", Some("purchase"),
      markerStartUseFirst = false, markerEndUseFirst = true,
      orderbyColumns = Seq("event_id"), groupbyColumns = Seq("user_id"),
      ascending = Seq(true), resultType = ResultType.Enumerated)
      .transform(s.read.parquet(events))
      .select(col("user_id"), col("event_id"),
        col("iids").cast("long").as("iids"))
      .orderBy("user_id", "event_id")

  /** Drop cached blocks and give the context cleaner a pause that grows
    * with the previous operation (its shuffle files and checkpoint blocks
    * are deleted asynchronously, as the repo's Bench found), outside any
    * timed window, so every operation starts from the same state. A full
    * collection follows operations of a second or more; below that it
    * would cost more than the operation.
    */
  private def reset(prevSeconds: Double): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    if (prevSeconds >= 1.0) System.gc()
    Thread.sleep(math.min(1500L, math.max(100L, (prevSeconds * 200).toLong)))
  }

  /** One operation; returns its record. Traced, the recorder listens only
    * for the duration of the operation and the bus is drained before and
    * after, so every event of the operation and no other is counted.
    */
  private def runOp(k: OpKind, n: Int, phase: String, traced: Boolean): Map[String, Any] = {
    if (traced) {
      PerfbenchBus.drain(spark.sparkContext)
      rec.clear()
      spark.sparkContext.addSparkListener(rec)
      tr.enabled = true
    }
    val first = tr.spans.size
    var outPath: Option[String] = None
    var error: String = null
    val t0 = System.nanoTime()
    try tr(k.name) { outPath = k.run(n, tr) }
    catch { case e: Throwable => error = s"${e.getClass.getName}: ${e.getMessage}".take(2000) }
    val wall = (System.nanoTime() - t0) / 1e9
    var r = Map[String, Any]("kind" -> k.name, "n" -> n,
      "phase" -> phase, "traced" -> traced, "wall_s" -> wall,
      "out" -> outPath.orNull, "error" -> error)
    if (traced) {
      tr.enabled = false
      PerfbenchBus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(rec)
      r ++= traceRecord(first)
    }
    records += r
    reset(wall)
    r
  }

  /** Per-operation trace record: span tree with self times and attributed
    * counters, plus the operation totals the per-layer metrics read.
    */
  private def traceRecord(first: Int): Map[String, Any] = {
    val op = tr.spans(first)
    val ids = tr.subtree(op.id).map(_.id)
    val (byId, lost) = Attribution.attribute(tr, ids, rec, baseNs, baseMs)
    def total(id: Int): Counters = {
      val c = new Counters
      tr.subtree(id).foreach(s => c.add(byId(s.id)))
      c
    }
    val all = total(op.id)
    def named(name: String): Seq[Span] = ids.map(tr.spans(_)).filter(_.name == name)
    def secs(name: String): Double = named(name).map(_.seconds).sum
    def jobsIn(name: String): Int = named(name).map(s => total(s.id).jobs).sum
    val spans = ids.map { id =>
      val s = tr.spans(id)
      Map[String, Any]("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_s" -> (s.startNs - op.startNs) / 1e9, "wall_s" -> s.seconds,
        "self_s" -> tr.selfSeconds(s), "jobs" -> byId(id).jobs,
        "stages" -> byId(id).stages, "tasks" -> byId(id).tasks)
    }
    val opWall = op.seconds
    Map(
      "spans" -> spans,
      "self_sum_s" -> ids.map(id => tr.selfSeconds(tr.spans(id))).sum,
      "span_wall_s" -> opWall,
      "unattributed_events" -> lost,
      "build_s" -> secs("build"), "build_jobs" -> jobsIn("build"),
      "exec_s" -> (if (op.name == "case") secs("from_df") else secs("exec")),
      "jobs" -> all.jobs, "stages" -> all.stages, "tasks" -> all.tasks,
      "shuffle_write_mb" -> all.shuffleWrite / 1e6,
      "input_mb" -> all.input / 1e6,
      "executor_cpu_s" -> all.cpuNs / 1e9,
      "executor_run_s" -> all.runMs / 1e3,
      "gc_s" -> all.gcMs / 1e3,
      "spill_mb" -> all.spill / 1e6,
      "driver_gap_s" -> math.max(0.0, opWall - all.jobBusyMs / 1e3),
      "core_busy_ratio" -> all.runMs / 1e3 / (opWall * Cores),
      "task_overhead_s" -> all.overheadMs / 1e3)
  }

  def run(): Unit = {
    // set-up: a fresh session plus the first warm-up operation
    val t0 = System.nanoTime()
    spark = session(local)
    spark.sparkContext.setLogLevel("ERROR")
    val ks = kinds(spark)
    runOp(ks.head, -1, "setup", traced = false)
    val setupSeconds = (System.nanoTime() - t0) / 1e9

    // warm-up, untimed: one round; in corpus the set-up's curate stands in
    // for the round's first operation, as another costs more than the
    // time budget allows
    var warmN = -2
    for (k <- (if (workload == "corpus") ks.tail else ks); _ <- 0 until k.perRound) {
      runOp(k, warmN, "warmup", traced = false)
      warmN -= 1
    }

    // closed loop: one client, each operation starts after the previous
    // one (and its state reset) completes. At least two rounds for
    // interval and for any traced run, which traces every other operation
    val rounds0 = if (trace || workload == "interval") 2 else 1
    val next = Array.fill(ks.size)(0)
    val loopStart = System.nanoTime()
    var rounds = 0
    while ((System.nanoTime() - loopStart) / 1e9 < seconds || rounds < rounds0) {
      for ((k, ki) <- ks.zipWithIndex; _ <- 0 until k.perRound) {
        // traced runs trace every other operation of a kind; the untraced
        // ones give the tracing overhead by difference
        runOp(k, next(ki), "timed", traced = trace && next(ki) % 2 == 0)
        next(ki) += 1
      }
      rounds += 1
    }
    val loopSeconds = (System.nanoTime() - loopStart) / 1e9
    val conf = spark.conf
    val settings = Seq("spark.master", "spark.sql.shuffle.partitions",
      "spark.sql.adaptive.enabled", "spark.sql.session.timeZone",
      "spark.sql.legacy.parquet.nanosAsLong")
      .map(k => k -> conf.get(k)).toMap +
      ("driver_max_heap_mb" -> (Runtime.getRuntime.maxMemory / (1L << 20)).toString)
    spark.stop()

    val hwm = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
    write(kv("result"), Json(Map(
      "workload" -> workload, "session" -> settings, "setup_s" -> setupSeconds,
      "loop_s" -> loopSeconds, "peak_rss_mb" -> hwm, "ops" -> records.toSeq)))
  }
}

/** A seeded test case for the interval identifier, read from the
  * generator's line format:
  * {{{
  * case <id> <int|float|str> <start> <end> <rows>
  * r <order> <group> <marker|\N> <expected iid>
  * m <row> <marker value>
  * }}}
  * The expected ids come from the generator's reference implementation,
  * never from the code under test.
  */
final case class CaseSpec(id: Int, dtype: String, start: Any, end: Any,
                          rows: Seq[(Long, Long, Any, Long)],
                          mutations: Seq[(Int, Any)]) {

  val input: PlainFrame = PlainFrame.fromPlain(
    rows.map { case (o, g, m, _) => Seq(o, g, m) },
    Seq("order:int", "groupby:int", s"marker:$dtype"))

  val expected: PlainFrame = PlainFrame.fromPlain(
    rows.map { case (o, g, m, iid) => Seq(o, g, m, iid) },
    Seq("order:int", "groupby:int", s"marker:$dtype", "iids:int"))

  val mutants: Seq[Mutant] =
    mutations.map { case (row, v) => ValueMutant("marker", row, v) }

  /** One `DataTestCase.test` of the window identifier. The test kit's
    * phases are segmented from the calls it makes back into this case:
    * `input` starts a to-DataFrame phase, the tested function brackets the
    * build, its return starts the collect (`fromDF`) and `expected` starts
    * the assertion.
    */
  def run(spark: SparkSession, tr: Tracer): Unit = {
    val spec = this
    val tc = new DataTestCase(spark) {
      def input: PlainFrame = { tr.segment("to_df"); spec.input }
      def expected: PlainFrame = { tr.segment("assert"); spec.expected }
      override def mutants: Seq[Mutant] = spec.mutants
    }
    val w = new IntervalIdentifierAdjusted("marker", start, Some(end),
      markerStartUseFirst = false, markerEndUseFirst = true,
      orderbyColumns = Seq("order"), groupbyColumns = Seq("groupby"),
      ascending = Seq(true))
    tc.test { df =>
      tr.segment("build")
      val r = w.transform(df)
      tr.segment("from_df")
      r
    }
  }
}

object CaseSpec {
  private def value(dtype: String, s: String): Any =
    if (s == "\\N") null
    else dtype match {
      case "int" => s.toLong
      case "float" => s.toDouble
      case _ => s
    }

  def load(path: String): Vector[CaseSpec] = {
    val out = Vector.newBuilder[CaseSpec]
    var head: Array[String] = null
    val rows = ArrayBuffer.empty[(Long, Long, Any, Long)]
    val muts = ArrayBuffer.empty[(Int, Any)]
    def flush(): Unit = if (head != null) {
      val t = head(2)
      out += CaseSpec(head(1).toInt, t, value(t, head(3)), value(t, head(4)),
        rows.toList, muts.toList)
      rows.clear(); muts.clear()
    }
    Files.readAllLines(Paths.get(path)).asScala.foreach { line =>
      val f = line.split(" ")
      f(0) match {
        case "case" => flush(); head = f
        case "r" => rows += ((f(1).toLong, f(2).toLong, value(head(2), f(3)), f(4).toLong))
        case "m" => muts += ((f(1).toInt, value(head(2), f(2))))
      }
    }
    flush()
    out.result()
  }
}

/** Minimal JSON writer for the result file. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case m: Map[_, _] => m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }
      .mkString("{", ",", "}")
    case s: Seq[_] => s.map(apply).mkString("[", ",", "]")
    case Some(x) => apply(x)
    case None => "null"
    case other => apply(other.toString)
  }
}
