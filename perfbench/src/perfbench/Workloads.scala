package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}

import graft.Engine
import graft.functions.{EchoWasm, PowWasm, SatWasm, SimdWasm, WasmRuntime}

/** One timed operation. `run` does the work and returns a deferred check,
  * evaluated after the timed loop, that yields an error message or None. */
final case class Op(name: String, run: () => () => Option[String])

/** What the harness needs from a workload. */
trait Workload {
  /** One repetition of the workload's own set-up (the harness repeats it). */
  def setup(): Unit
  /** The operations of pass `p`, in seed order. */
  def pass(p: Int): Seq[Op]
  /** Seconds one pass takes on 4 cores; sets the fixed number of passes. */
  def nominalPassS: Double
  /** Workload-specific end-to-end metrics from the timed samples. */
  def extraMetrics(samples: Seq[Sample]): Seq[(String, Double, String)] = Nil
  /** Per-layer replays for the traced run: metric name -> value. */
  def layerReplays(tracer: Tracer): Seq[(String, Double)] = Nil
  def teardown(): Unit = ()
}

final case class Sample(op: String, seconds: Double, traced: Boolean, error: Option[String])

object Workloads {
  val names = Seq("udf_batch", "sql_relational", "pipeline_jobs", "udf_lifecycle")

  def apply(name: String, ctx: Ctx): Workload = name match {
    case "udf_batch" => new UdfBatch(ctx)
    case "sql_relational" => new EntryWorkload(ctx, byId(SqlIds), shared = false, warmUp = true, nominal = 3.0)
    case "pipeline_jobs" => new EntryWorkload(ctx, byId(PipelineIds), shared = true, warmUp = false, nominal = 18.0)
    case "udf_lifecycle" => new UdfLifecycle(ctx)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (expected one of ${names.mkString(", ")})")
  }

  /** Relational entries without UDFs or file round trips: an aggregate
    * over lineitem, a six-table join, a window rank, a cube, an anti join
    * and a scalar subquery. */
  val SqlIds: Seq[String] = Seq(
    "q01", "q05", "q07", "q12", "q19", "q22")

  /** Graph and dedup entries with >= 12 jobs (p105, p222), a streaming
    * entry (p15), and a low-job consumer of the shared stages (p29). */
  val PipelineIds: Seq[String] = Seq("p105", "p222", "p15", "p29")

  /** Full entry names for id prefixes such as "q01" or "p163". */
  def byId(ids: Seq[String]): Seq[String] = {
    val names = graft.SparkEntry.queries.keys.map(k => k.takeWhile(_ != '_') -> k).toMap
    ids.map(names)
  }

  /** A seeded permutation, stable for a given seed and pass. */
  def shuffled[T](xs: Seq[T], seed: Long, p: Int): Seq[T] =
    new scala.util.Random(seed * 1000003L + p).shuffle(xs)
}

/** Shared state of one benchmark process. */
final case class Ctx(engine: Engine, seed: Long, dataDir: Path, workDir: Path,
    expected: Map[String, (Long, String)], record: mutable.Map[String, (Long, String)]) {
  def spark: SparkSession = engine.spark
  def cores: Int = spark.sparkContext.defaultParallelism
}

/** `udf_batch`: one aggregate over a cached table per UDF runtime. */
final class UdfBatch(ctx: Ctx) extends Workload {
  import UdfBatch._
  val nominalPassS = 1.5

  // the seed places the NULLs and draws every value and string length; the
  // NULL fraction and the length distribution stay fixed, so seeds differ in
  // data but not in the amount of work
  private val nullFrac = 0.05
  private val maxLen = 48
  private val seeds = {
    val rnd = new scala.util.Random(ctx.seed)
    Seq.fill(6)(rnd.nextInt(1 << 30))
  }
  private lazy val creates = Seq(
    s"CREATE OR REPLACE FUNCTION pb_wasm(DOUBLE, DOUBLE) RETURNS DOUBLE LANGUAGE WASM AS '${PowWasm.path}!f1'",
    "CREATE OR REPLACE FUNCTION pb_jvm(DOUBLE, DOUBLE) RETURNS DOUBLE LANGUAGE WASM AS 'builtin!pow'",
    "CREATE OR REPLACE FUNCTION pb_proc(DOUBLE, DOUBLE) RETURNS DOUBLE LANGUAGE WASM AS 'proc:builtin!pow'",
    s"CREATE OR REPLACE FUNCTION pb_str(STRING) RETURNS STRING LANGUAGE WASM AS '${EchoWasm.path}!rev'")

  private var warmed = false

  /** Builds and caches `bt` and creates the four functions; the first time,
    * also runs each function once so the timed loop starts warm. */
  def setup(): Unit = {
    teardown()
    val s = seeds
    // four partitions per core: a core that the host steals time from
    // holds up a stage by one small task, not by a quarter of the table
    ctx.spark.range(0, Rows, 1, 4 * ctx.cores).selectExpr(
      s"CASE WHEN rand(${s(0)}) < $nullFrac THEN NULL ELSE 0.5 + 1.5 * rand(${s(1)}) END AS a",
      s"CASE WHEN rand(${s(2)}) < $nullFrac THEN NULL ELSE 4.0 * rand(${s(3)}) END AS b",
      s"CASE WHEN rand(${s(4)}) < $nullFrac THEN NULL ELSE " +
        s"substr(sha2(cast(id * ${s(5)} AS STRING), 256), 1, cast(rand(${s(5)}) * $maxLen AS INT)) END AS s")
      .cache().createOrReplaceTempView("bt")
    ctx.spark.table("bt").count()
    creates.foreach(ctx.engine.sql)
    if (!warmed) Functions.foreach { case (fn, _) => scalar(query(fn)) }
    warmed = true
  }

  private def scalar(sql: String): Any = ctx.engine.sql(sql).collect().head.get(0)
  private lazy val controls: Map[String, Any] = Functions.map { case (fn, _) =>
    fn -> scalar(query(Controls(fn)))
  }.toMap

  def pass(p: Int): Seq[Op] = Workloads.shuffled(Functions, ctx.seed, p).map { case (fn, _) =>
    Op(fn, () => {
      val got = scalar(query(fn))
      () => {
        val want = controls(fn)
        val ok = (got, want) match {
          case (g: Double, w: Double) => math.abs(g - w) <= 1e-9 * math.abs(w).max(1.0)
          case (g, w) => g == w
        }
        if (ok) None else Some(s"$fn: got $got, native control gives $want")
      }
    })
  }

  override def extraMetrics(samples: Seq[Sample]): Seq[(String, Double, String)] =
    Functions.map { case (fn, kind) =>
      val lat = Stats.median(samples.filter(_.op == fn).map(_.seconds))
      (s"${kind}_rows_per_s", Rows / lat, "rows/s")
    }

  override def teardown(): Unit = {
    Functions.foreach { case (fn, _) => ctx.engine.sql(s"DROP FUNCTION IF EXISTS $fn") }
    if (ctx.spark.catalog.tableExists("bt")) {
      ctx.spark.catalog.uncacheTable("bt")
      ctx.spark.catalog.dropTempView("bt")
    }
  }

  /** Replays 8192-row batches of `bt` through each layer of the UDF path:
    * argument packing, Arrow encode, the guest call, the subprocess round
    * trip, decode and result unpacking. */
  override def layerReplays(tracer: Tracer): Seq[(String, Double)] = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, JoinedRow}
    import org.apache.spark.sql.types.{DoubleType, StringType}
    import org.apache.spark.unsafe.types.UTF8String
    import graft.ddl.EngineFunctionInvoke.{fromCatalyst, toCatalyst}
    import graft.functions.{ArrowBatchCodec, ProcessScalarFunction}

    val n = BatchRows
    val data = ctx.spark.table("bt").limit(n * ReplayBatches).collect()
    val batches = data.grouped(n).map(_.map { r =>
      InternalRow(r.get(0), r.get(1), Option(r.getString(2)).map(UTF8String.fromString).orNull)
    }).toSeq
    val refs = Seq(BoundReference(0, DoubleType, true), BoundReference(1, DoubleType, true))
    val strRef = BoundReference(2, StringType, true)
    val acc = mutable.LinkedHashMap[String, Double]().withDefaultValue(0.0)
    var payloadBytes = 0L
    def timed[T](span: String)(body: => T): T = {
      val t0 = System.nanoTime()
      val out = body
      val t1 = System.nanoTime()
      tracer.record(span, t0, t1)
      acc(s"${span}_us_per_batch") += (t1 - t0) / 1e3
      out
    }
    val proc = ProcessScalarFunction("builtin", "pow")
    for (_ <- 0 until ReplayRounds; rowsB <- batches) {
      val cols = timed("plans.pack") {
        refs.map(r => Array.tabulate[Any](rowsB.length)(i => fromCatalyst(r.eval(rowsB(i)), DoubleType))).toIndexedSeq
      }
      val payload = timed("functions.codec.encode")(ArrowBatchCodec.encode(cols, rowsB.length))
      payloadBytes += payload.length
      val reply = timed("functions.wasm.guest")(WasmRuntime.invokeBindgen(PowWasm.path, "f1", payload))
      val (out, _) = timed("functions.codec.decode")(ArrowBatchCodec.decode(reply))
      timed("plans.unpack") {
        rowsB.indices.map(i => new JoinedRow(rowsB(i), InternalRow(toCatalyst(out(0)(i), DoubleType)))).size
      }
      timed("functions.proc.roundtrip")(proc.applyBatch(cols, rowsB.length))
      val strCols = IndexedSeq(Array.tabulate[Any](rowsB.length)(i => fromCatalyst(strRef.eval(rowsB(i)), StringType)))
      val strPayload = ArrowBatchCodec.encode(strCols, rowsB.length)
      timed("functions.wasm.guest_str")(WasmRuntime.invokeBindgen(EchoWasm.path, "rev", strPayload))
    }
    val calls = (ReplayRounds * batches.size).toDouble
    acc.toSeq.map { case (k, v) => k -> v / calls } ++ Seq(
      "functions.codec.payload_bytes_per_row" -> payloadBytes.toDouble / (ReplayRounds * data.length),
      UdfLifecycle.parseReplay(tracer))
  }
}

object UdfBatch {
  val Rows = 1000000L
  val BatchRows = 8192
  val ReplayBatches = 8
  val ReplayRounds = 5
  /** (function, metric prefix) */
  val Functions = Seq("pb_wasm" -> "wasm", "pb_jvm" -> "jvm", "pb_proc" -> "proc", "pb_str" -> "str")
  val Controls = Map("pb_wasm" -> "pow", "pb_jvm" -> "pow", "pb_proc" -> "pow", "pb_str" -> "reverse")

  def query(fn: String): String =
    if (fn == "pb_str" || fn == "reverse") s"SELECT sum(crc32(cast(v AS BINARY))) FROM (SELECT $fn(s) AS v FROM bt)"
    else s"SELECT sum(v) FROM (SELECT $fn(a, b) AS v FROM bt)"
}

/** `sql_relational` and `pipeline_jobs`: `SparkEntry.queries` entries, each
  * built and collected, its result fingerprinted against the recording.
  * Every pass reads its own copy of the data directory, so per-directory
  * memoization (registered views, the shared stages) is paid in every
  * pass alike. With `shared`, each pass starts with the shared-stage
  * builds as their own operation. With `warmUp`, the first set-up runs
  * every entry once, so the timed passes measure warm entries whose cost
  * does not depend on the seed's order; `pipeline_jobs` is measured cold
  * because its pass is too long to run twice in one run. */
final class EntryWorkload(ctx: Ctx, entries: Seq[String], shared: Boolean, warmUp: Boolean,
    nominal: Double) extends Workload {
  val nominalPassS: Double = nominal
  private val fns = graft.SparkEntry.queries

  private var warmed = !warmUp

  /** Registers the tables and runs one join, aggregate, window and sort,
    * so JVM and Spark warm-up is paid here rather than by whichever entry
    * the seed puts first; the first time, with `warmUp`, runs every entry. */
  def setup(): Unit = {
    if (!warmed) {
      pass(-1).foreach(_.run())
      warmed = true
    }
    graft.queries.Tables.register(ctx.spark, ctx.dataDir.toString)
    ctx.spark.sql("""
      SELECT l_returnflag, count(*) AS n, sum(o_totalprice) AS s,
             rank() OVER (ORDER BY count(*) DESC) AS r
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY l_returnflag ORDER BY l_returnflag""").collect()
  }

  private def passDir(p: Int): String = {
    val d = ctx.workDir.resolve(if (p < 0) "data_warmup" else s"data_pass$p")
    if (!Files.isDirectory(d)) {
      Files.createDirectories(d)
      Files.list(ctx.dataDir).forEach(f => Files.copy(f, d.resolve(f.getFileName)))
    }
    d.toString
  }

  def pass(p: Int): Seq[Op] = {
    val dir = passDir(p)
    val head =
      if (!shared) Nil
      else Seq(Op("shared_stages", () => {
        Main.tracer.span("queries.shared_build") {
          graft.queries.SharedStages.warmBase(ctx.spark, dir)
          graft.queries.SharedStages.warmCorpus(ctx.spark, dir)
        }
        () => None
      }))
    head ++ Workloads.shuffled(entries, ctx.seed, p).map { e =>
      Op(e, () => {
        val df = Main.tracer.span("queries.build")(fns(e)(ctx.spark, dir))
        val rows = Main.tracer.span("queries.exec")(df.collect())
        () => check(e, rows)
      })
    }
  }

  private def check(e: String, rows: Array[Row]): Option[String] = {
    val got = Check.fingerprint(rows)
    ctx.record(e) = got
    ctx.expected.get(e) match {
      case Some(want) if want == got => None
      case Some(want) => Some(s"$e: got rows=${got._1} hash=${got._2}, recorded rows=${want._1} hash=${want._2}")
      case None if ctx.expected.isEmpty => None // recording run
      case None => Some(s"$e: no recorded fingerprint")
    }
  }
}

/** `udf_lifecycle`: CREATE FUNCTION, query the 4-row table `t`, DROP
  * FUNCTION, over the four vendored WASM artifacts in seed order. */
final class UdfLifecycle(ctx: Ctx) extends Workload {
  val nominalPassS = 0.55

  /** (artifact, CREATE signature and locator, call, native equivalent) */
  private lazy val artifacts = Seq(
    ("pow", s"(DOUBLE, DOUBLE) RETURNS DOUBLE LANGUAGE WASM AS '${PowWasm.path}!f1'", "g(a, b)", "pow(a, b)"),
    ("sat", s"(DOUBLE) RETURNS BIGINT LANGUAGE WASM AS '${SatWasm.path}!sat'",
      "g(a * b)", "CAST(a * b AS BIGINT)"),
    ("vmag", s"(DOUBLE) RETURNS DOUBLE LANGUAGE WASM AS '${SimdWasm.path}!vmag'",
      "g(b - 2 * a)", "sqrt(abs(b - 2 * a)) * 0.5 + (b - 2 * a) * (b - 2 * a)"),
    ("rev", s"(STRING) RETURNS STRING LANGUAGE WASM AS '${EchoWasm.path}!rev'",
      "g(concat(CAST(a AS STRING), '|', CAST(b AS STRING)))",
      "reverse(concat(CAST(a AS STRING), '|', CAST(b AS STRING)))"))

  /** FIXTURES.md §1.1: `select a, b, f1(a, b) from t`. */
  private val powGolden = Seq(4.0, 27.0, 256.0, 3670.684197150057)

  def setup(): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    ctx.engine.registerTable("t", Seq((2.0, 2.0), (3.0, 3.0), (4.0, 4.0), (5.0, 5.1)).toDF("a", "b"))
  }

  private lazy val native: Map[String, Seq[String]] = artifacts.map { case (k, _, _, nat) =>
    k -> ctx.engine.sql(s"SELECT a, b, $nat AS v FROM t ORDER BY a").collect().map(Check.canon).toSeq
  }.toMap

  def pass(p: Int): Seq[Op] = Workloads.shuffled(artifacts, ctx.seed, p).map { case (k, sig, call, _) =>
    Op(k, () => {
      Main.tracer.span("ddl.create")(ctx.engine.sql(s"CREATE FUNCTION g$sig"))
      val rows = Main.tracer.span("lifecycle.query") {
        ctx.engine.sql(s"SELECT a, b, $call AS v FROM t ORDER BY a").collect()
      }
      Main.tracer.span("ddl.drop")(ctx.engine.sql("DROP FUNCTION g"))
      val parsedAfterDrop = WasmRuntime.parsedModuleCount
      () => {
        val got = rows.map(Check.canon).toSeq
        if (parsedAfterDrop != 0) Some(s"$k: $parsedAfterDrop modules still parsed after DROP")
        else if (k == "pow") {
          val vs = rows.map(_.getDouble(2))
          val ok = vs.length == 4 && vs.zip(powGolden).forall { case (g, w) => math.abs(g - w) <= 1e-12 * w }
          if (ok) None else Some(s"pow: got ${vs.mkString(",")}, golden ${powGolden.mkString(",")}")
        } else if (got == native(k)) None
        else Some(s"$k: got $got, native gives ${native(k)}")
      }
    })
  }

  override def teardown(): Unit = ctx.engine.sql("DROP FUNCTION IF EXISTS g")

  override def layerReplays(tracer: Tracer): Seq[(String, Double)] =
    Seq(UdfLifecycle.parseReplay(tracer))
}

object UdfLifecycle {
  /** Median time of `WasmModule.parseFile` over the four artifacts. */
  def parseReplay(tracer: Tracer): (String, Double) = {
    val paths = Seq(PowWasm.path, SatWasm.path, SimdWasm.path, EchoWasm.path)
    val ms = for (_ <- 0 until 5; p <- paths) yield {
      val t0 = System.nanoTime()
      graft.functions.WasmModule.parseFile(p)
      val t1 = System.nanoTime()
      tracer.record("functions.module.parse", t0, t1)
      (t1 - t0) / 1e6
    }
    "functions.module.parse_ms" -> Stats.median(ms)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Quantile with linear interpolation between closest ranks. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val h = (s.size - 1) * q
    val lo = math.floor(h).toInt
    s(lo) + (h - lo) * (s(math.min(lo + 1, s.size - 1)) - s(lo))
  }

  /** The highest of a fixed set of percentiles with at least ten samples
    * above it, and that percentile. */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val grid = Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
    val p = grid.find(p => xs.size * (1 - p / 100) >= 10).getOrElse(50.0)
    (p, quantile(xs, p / 100))
  }
}
