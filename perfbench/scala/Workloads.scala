package perfbench

import java.io.File
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.SparkEntry
import graft.llm.{Dedup, TextFns}
import graft.operators.Joins
import graft.streaming.Incremental

/** The reference's join microbenchmark (python/benchmarks/join.py): two
  * sides of `n` rows, float64 key + float64 payload, unique shuffled keys,
  * inner join through `Joins.join`. GiB/s = (bytes_in + bytes_out) / wall,
  * computed from the record.
  */
object JoinBench {
  private var inputs: Option[(Long, DataFrame, DataFrame)] = None

  /** Caches both sides; untimed, like the reference's input creation. */
  def prepare(spark: SparkSession, n: Long): Unit = if (!inputs.exists(_._1 == n)) {
    def side(p: String) = spark.range(n).select(
      pmod(col("id") * 2654435761L, lit(n)).cast("double").as("key"),
      (col("id") % 97).cast("double").as(p)).cache()
    val (a, b) = (side("payload_a"), side("payload_b"))
    a.count(); b.count()
    inputs = Some((n, a, b))
  }

  def run(spans: Spans): Result = {
    val (_, l, r) = inputs.get
    spans.span("Joins.join", "operators") {
      Main.collect(Joins.join(l, r, Seq("key"), "inner")
        .agg(count(lit(1)).as("rows"), sum("key").as("key_sum")))
    }
  }
}

/** Files under some directories: path -> (size, mtime). */
object FsSnapshot {
  def of(dirs: Seq[String]): Map[String, (Long, Long)] = dirs.flatMap { d =>
    val p = Paths.get(d)
    if (!Files.exists(p)) Nil
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_))
      .map(f => f.toString -> (Files.size(f), Files.getLastModifiedTime(f).toMillis))
      .toSeq
  }.toMap

  def rmrf(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(f => Files.deleteIfExists(f))
  }
}

/** Micro-batch MV maintenance. Arrival k's documents (a seeded slice of the
  * corpus, `arrivals/k.parquet`) go through the near-dup screen in q321's
  * auto-compacting regime and through the curation key index / delta stream
  * in q301's regime; each maintain call is followed by a read of its view,
  * as a separate op. `reset` starts a new pass on empty state.
  */
final class IncrementalOps(spark: SparkSession, data: String, work: String,
    spans: Spans) {
  private var pass = -1
  private var dir = ""
  val stats = mutable.ArrayBuffer[Map[String, Any]]()

  // the engine's own per-batch enrichment (q301/q305); private, so reflected
  private val enrichM = SparkEntry.getClass.getDeclaredMethod("curationEnrich",
    classOf[SparkSession], classOf[DataFrame])
  enrichM.setAccessible(true)
  private def curationEnrich(b: DataFrame): DataFrame =
    enrichM.invoke(SparkEntry, spark, b).asInstanceOf[DataFrame]

  def reset(): Unit = {
    if (dir.nonEmpty) FsSnapshot.rmrf(dir)
    pass += 1
    dir = s"$work/inc/pass$pass"
  }
  reset()

  private def arrivalFile(k: Int) = s"$data/arrivals/$k.parquet"
  private def batch(k: Int) =
    spark.read.parquet(arrivalFile(k)).select("doc_id", "source", "text")

  /** Near-dup screen of arrival k (q321's auto-compacting regime). */
  def nearDup(k: Int): Seq[(String, Result)] = {
    spans.span("applyNearDupBatch", "streaming") {
      Incremental.applyNearDupBatch(spark, batch(k).select(col("doc_id"), col("source"),
          Dedup.minhashSignature(col("text"), numHashes = 32).as("sig")),
        k.toLong, s"$dir/nd", bands = 16, rowsPerBand = 2, thresholdPct = 70,
        autoCompactMinLive = 2)
    }
    Nil
  }

  /** The near-dup view: every decision so far. */
  def nearDupView(k: Int): Seq[(String, Result)] = spans.span("ndDecisions", "view") {
    Seq(f"nd_decisions_$k%02d" -> Main.collect(Incremental.ndDecisions(spark, s"$dir/nd")
      .select("doc_id", "source", "kept", "matched_id").orderBy("doc_id")))
  }

  /** Curation key-index / delta-stream update of arrival k (q301's regime). */
  def curation(k: Int): Seq[(String, Result)] = {
    spans.span("applyCurationBatch", "streaming") {
      Incremental.applyCurationBatch(spark, curationEnrich(batch(k)), k.toLong,
        s"$dir/cur", s"$dir/delta", nShards = 16)
    }
    Nil
  }

  /** The curation view: the per-source funnel report. */
  def curationView(k: Int): Seq[(String, Result)] = spans.span("curationReport", "view") {
    Seq(f"curation_report_$k%02d" -> Main.collect(
      Incremental.curationReport(spark, s"$dir/delta").orderBy("source")))
  }

  /** Untimed: the verified pair set the near-dup twin check needs. */
  def pairs(k: Int): Seq[(String, Result)] = Seq(f"nd_pairs_$k%02d" -> (
    try Main.collect(Incremental.ndPairs(spark, s"$dir/nd").select("e_id", "d_id")
      .orderBy("e_id", "d_id"))
    catch { case e: IllegalArgumentException if e.getMessage.contains("no pairs state") =>
      Result(new StructType().add("e_id", "long").add("d_id", "long"), Array()) }))

  private def stateDirs = Seq(s"$dir/nd", s"$dir/cur", s"$dir/delta")
  private def highwater: String = {
    val f = new File(s"$dir/nd/_highwater")
    if (f.exists()) Files.readString(f.toPath).trim else "-1"
  }
  private var before: Map[String, (Long, Long)] = Map.empty
  private var hwBefore = "-1"

  def snapshot(): Unit = { before = FsSnapshot.of(stateDirs); hwBefore = highwater }

  /** State-directory deltas of the maintain call just made (traced runs). */
  def record(k: Int, kind: String, opId: Long): Unit = {
    val after = FsSnapshot.of(stateDirs)
    val written = after.filter { case (p, v) => !before.get(p).contains(v) }
    stats += Map("pass" -> pass, "arrival" -> k, "kind" -> kind, "op" -> opId,
      "files_written" -> written.size, "bytes_written" -> written.values.map(_._1).sum,
      "input_bytes" -> new File(arrivalFile(k)).length(),
      "state_files" -> after.size, "state_bytes" -> after.values.map(_._1).sum,
      "fold" -> (highwater != hwBefore))
  }

  /** The pass's ops for arrivals `0 until n`: per arrival, each maintain
    * call and then the read of its view.
    */
  def ops(n: Int, traced: => Boolean, opId: => Long): Seq[Op] =
    (0 until n).flatMap { k =>
      def maintain(kind: String, run: Int => Seq[(String, Result)]) =
        Op(f"${kind}_$k%02d", () => run(k), pre = () => if (traced) snapshot(),
          post = () => { if (traced) record(k, kind, opId); Nil })
      Seq(maintain("nd", nearDup), Op(f"nd_view_$k%02d", () => nearDupView(k),
          post = () => pairs(k)),
        maintain("cur", curation), Op(f"cur_view_$k%02d", () => curationView(k)))
    }
}

/** Standalone calls into the layers a workload's pass does not reach, run
  * after the window of a traced run, so that every layer metric is measured
  * in every workload.
  */
final class Probes(spark: SparkSession, data: String, spans: Spans, joinRows: Long) {

  def run(workload: String, inc: IncrementalOps, arrivals: Int): Map[String, Any] = {
    val out = mutable.LinkedHashMap[String, Any]()
    val docs = graft.Engine.table(spark, data, "documents")
    spans.op("probe:functions") {
      spans.span("enrich", "functions") {
        docs.select(col("doc_id"), Dedup.minhashSignature(col("text"), numHashes = 32),
            TextFns.portableTokens(col("text")), Dedup.simhash64(col("text")))
          .write.format("noop").mode("overwrite").save()
      }
    }
    spans.op("probe:llm") {
      val cands = spans.span("minhashCandidates", "llm") {
        Dedup.minhashCandidates(docs, "doc_id", "text", bands = 16, rowsPerBand = 2)
      }
      val verified = spans.span("jaccardVerify", "llm") {
        Dedup.jaccardVerify(cands, docs, "doc_id", "text")
      }
      out("lsh_candidates") = cands.count()
      out("lsh_verified") = verified.filter(col("jaccard") >= 0.7).count()
    }
    if (workload != "olap_star") {
      JoinBench.prepare(spark, joinRows)
      spans.op("probe:join_microbench")(JoinBench.run(spans))
    }
    if (workload != "incremental_mv") {
      inc.reset()
      inc.ops(arrivals, traced = true, spans.currentOp).foreach { op =>
        op.pre(); spans.op(s"probe:${op.name}")(op.run()); op.post()
      }
      inc.reset()
    }
    out.toMap
  }
}
