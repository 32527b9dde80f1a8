package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.{Engine, SparkEntry}

/** One operation of a workload: a query, the join microbenchmark, or one
  * maintain call of an arrival plus its view read. `run` is timed and
  * returns the outputs to check, by name; `pre` and `post` run untimed around
  * it (state snapshots, extra outputs the check needs).
  */
final case class Op(name: String, run: () => Seq[(String, Result)],
    pre: () => Unit = () => (), post: () => Seq[(String, Result)] = () => Nil)

/** A collected output: schema, rows and an order-sensitive content hash. */
final case class Result(schema: StructType, rows: Array[Row]) {
  lazy val hash: Int = MurmurHash3.orderedHash(rows.iterator.map(_.hashCode))
}

/** The benchmark's JVM side: sets the session up, runs the workload's ops in
  * a closed loop (one client, serial operations) over whole passes, and
  * writes samples, spans, listener counters,
  * canaries and heap to `<out>/record.json`. The first output of every op is
  * dumped as parquet for the oracle check; every later output is checked
  * against it by content hash.
  *
  *   perfbench.Main --workload W --data DIR --work DIR --out DIR --seconds S
  *     --nominal-pass-s P --trace 0|1 --tables t1,t2 --join-rows N
  *     --warmup-ops N [--ops q63,q64,join_microbench] [--arrivals N]
  */
object Main {
  private val Setups = 3 // set-ups per run; their median is the set-up figure
  private val ProbeArrivals = 3 // the third arrival folds (autoCompactMinLive = 2)

  def collect(df: DataFrame): Result = Result(df.schema, df.collect())

  private def secs(ns: Long): Double = ns / 1e9

  private def attempt[T](f: => T): Either[String, T] =
    try Right(f)
    catch { case e: Throwable => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}") }

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val data = args("data")
    val work = args("work")
    val out = args("out")
    val seconds = args("seconds").toDouble
    val trace = args("trace") == "1"
    val tables = args("tables").split(",").toSeq
    val joinRows = args("join-rows").toLong
    val cores = Runtime.getRuntime.availableProcessors()
    new File(out).mkdirs()
    val record = mutable.LinkedHashMap[String, Any]()
    record("jvm_boot_s") = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

    // ── setup: session + function registration + table loads, `Setups`
    // times with the session rebuilt, then the warm-up ops ──
    def newSession(): SparkSession = {
      val s = Engine.configure(SparkSession.builder()
          .master(s"local[$cores]").appName("perfbench"), cores)
        .config("spark.local.dir", s"$work/spark-local")
        .getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      graft.functions.Registry.register(s)
      s
    }
    val setups = (1 to Setups).map { k =>
      if (k > 1) SparkSession.active.stop()
      val t0 = System.nanoTime()
      val s = newSession()
      val t1 = System.nanoTime()
      tables.foreach(t => Engine.table(s, data, t).schema)
      Map("session_s" -> secs(t1 - t0), "table_load_s" -> secs(System.nanoTime() - t1))
    }
    record("setups") = setups
    val spark = SparkSession.active
    val spans = new Spans(spark.sparkContext)
    val listener = new LayerListener(spans)
    if (trace) spark.sparkContext.addSparkListener(listener)

    val inc = new IncrementalOps(spark, data, work, spans)
    val ops: Seq[Op] = workload match {
      case "incremental_mv" => inc.ops(args("arrivals").toInt, spans.enabled, spans.currentOp)
      case _ =>
        val queries = SparkEntry.queries
        args("ops").split(",").toSeq.map {
          case "join_microbench" =>
            JoinBench.prepare(spark, joinRows)
            Op("join_microbench", () => Seq("join_microbench" -> JoinBench.run(spans)))
          case prefix =>
            val name = queries.keys.find(_.startsWith(prefix + "_"))
              .getOrElse(sys.error(s"no query named $prefix"))
            val fn = queries(name)
            Op(name, () => Seq(name -> spans.span(name, "query")(collect(fn(spark, data)))))
        }
    }
    val tw0 = System.nanoTime()
    ops.take(args("warmup-ops").toInt).foreach(_.run())
    inc.reset()
    record("warmup_s") = secs(System.nanoTime() - tw0)

    record("canary_before") = Canary.both(spark, work)

    // ── measured window: a fixed number of whole passes over the op list,
    // about `seconds` long at the workload's nominal pass wall (so the
    // sample count never depends on machine speed), and at least the 11
    // samples the tail rule needs. Traced runs trace only the middle of
    // three or more passes: the untraced passes around it give the
    // tracing overhead ──
    val samples = mutable.ArrayBuffer[Map[String, Any]]()
    val firstOutputs = mutable.LinkedHashMap[String, Result]()
    val tw = System.nanoTime()
    var i = 0
    val passes = math.max(if (trace) 3 else 1,
      math.round(seconds / args("nominal-pass-s").toDouble).toInt)
    while (i < passes * ops.size || i < 11) {
      val op = ops(i % ops.size)
      val pass = i / ops.size
      if (i % ops.size == 0 && i > 0) inc.reset()
      val traced = trace && pass == 1
      spans.enabled = traced; listener.on = traced
      op.pre()
      val s0 = System.nanoTime()
      val res = attempt(spans.op(op.name)(op.run()))
      val wall = secs(System.nanoTime() - s0)
      val checked = res.flatMap(r => attempt(r ++ op.post()))
      spans.enabled = false; listener.on = false
      val outs = checked.getOrElse(Nil)
      outs.foreach { case (k, r) => if (!firstOutputs.contains(k)) firstOutputs(k) = r }
      samples += Map("op" -> op.name, "pass" -> pass, "traced" -> traced,
        "span_op" -> spans.currentOp, "start_s" -> secs(s0 - tw), "wall_s" -> wall,
        "error" -> checked.left.toOption,
        "outputs" -> outs.map { case (k, r) => Seq(k, r.hash, r.rows.length) })
      i += 1
    }
    record("window_s") = secs(System.nanoTime() - tw)
    record("samples") = samples

    System.gc(); System.gc()
    record("retained_heap_mb") =
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    record("storage_mb") = spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1048576.0
    record("canary_after") = Canary.both(spark, work)

    if (trace) {
      spans.enabled = true; listener.on = true
      record("probes") = new Probes(spark, data, spans, joinRows)
        .run(workload, inc, ProbeArrivals)
      spans.enabled = false; listener.on = false
      record("spans") = spans.all.map(s => Seq(s.id, s.name, s.layer, s.op, s.parent,
        secs(s.startNs - tw), secs(s.endNs - tw)))
      record("listener_by_span") = listener.spanIds.map(id =>
        id.toString -> listener.spanCounters(id)).toMap
      record("streaming") = inc.stats
      record("cores") = cores
    }

    // ── outputs for the oracle check, outside every timed region ──
    import scala.concurrent.{Await, Future, ExecutionContext}
    implicit val ec: ExecutionContext = ExecutionContext.global
    Await.result(Future.traverse(firstOutputs.toSeq) { case (k, r) => Future {
      spark.createDataFrame(r.rows.toSeq.asJava, r.schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$out/results/$k")
    }}, scala.concurrent.duration.Duration.Inf)
    val oracle = SparkEntry.oracleSql
    record("oracle_sql") = (ops.map(_.name) :+ "q301_incremental_curation")
      .flatMap(n => oracle.get(n).map(n -> _)).toMap
    record("first_hash") = firstOutputs.map { case (k, r) => k -> r.hash }
    Json.write(Paths.get(out, "record.json"), record)
    spark.stop()
  }
}

/** Fixed canaries, sampled before and after the window for attribution only:
  * nothing is ever discarded or re-measured because of them.
  */
object Canary {
  private def time(f: => Unit): Double = {
    val t = System.nanoTime(); f; (System.nanoTime() - t) / 1e9
  }

  def cpu(spark: SparkSession): Double = time {
    spark.range(1L << 18)
      .select(pmod(col("id") * 2654435761L, lit(1L << 16)).as("k"),
        (col("id") % 97).cast("double").as("v"))
      .groupBy("k").agg(sum("v"), count(lit(1))).collect()
  }

  def fs(spark: SparkSession, work: String): Double = {
    val dir = s"$work/fs-canary"
    try time {
      spark.range(256).select((col("id") % 4).as("p"), col("id").as("v"))
        .repartition(1, col("p")).write.mode("overwrite").partitionBy("p").parquet(dir)
      spark.read.parquet(dir).collect()
    } finally FsSnapshot.rmrf(dir)
  }

  def both(spark: SparkSession, work: String): Map[String, Double] =
    Map("cpu_s" -> cpu(spark), "fs_s" -> fs(spark, work))
}

/** Minimal JSON writer for the record. */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case '\r' => "\\r"; case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => render(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case x => render(x.toString)
  }

  def write(p: java.nio.file.Path, v: Any): Unit = Files.writeString(p, render(v))
}
