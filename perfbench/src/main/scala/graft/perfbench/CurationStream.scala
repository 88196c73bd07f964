package graft.perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}
import org.apache.spark.sql.graftbridge.Bridge

import graft.Tables
import graft.ops.{CurationFlow, UnifiedFlow}
import graft.queries.Verdicts

/** The continuous text+vector corpus build: seeded waves of documents go
  * through `UnifiedFlow.decide` then `UnifiedFlow.commit` into one store;
  * a seeded share of documents arrives without its embedding, delivered by
  * a `UnifiedFlow.lateEmbeddings` pass after each wave. Set-up ingests the
  * first `Prefill` waves, with their late pass, into the same store, so the
  * first timed wave already probes a grown store holding the originals of
  * its planted twins and copies.
  *
  * Inputs under `<inputs>`: `documents.parquet` and `embeddings.parquet`
  * (read through `graft.Tables`), and `plan.parquet` — per document its
  * wave and whether its embedding comes late.
  */
final class CurationStream(inputs: String, work: String) extends Workload {
  import CurationStream._

  private var corpus: DataFrame = _
  private var bench: DataFrame = _
  private var waves = 0
  private val store = s"$work/stream/store"
  private var cursor = 0L
  /** Every batch's decision rows, in ingest order. */
  private val decisions = mutable.ArrayBuffer.empty[Array[Row]]
  /** Every late pass's correction rows (doc_id, status), in pass order. */
  private val corrections = mutable.ArrayBuffer.empty[Array[(Long, String)]]
  /** The late documents' (doc_id, embedding), held on the driver. */
  private var lateRows: Array[Row] = Array.empty
  private var lateSchema: StructType = _
  private var wavesDone = 0
  private var docsIn = 0L
  private var streamS = 0.0

  def setup(run: Run): Unit = {
    val spark = run.spark
    val t = run.tracer
    val docs = Tables.documents(spark, inputs)
    val emb = Tables.embeddings(spark, inputs)
    Seq(docs, emb).foreach(df =>
      t.span("tables.scan")(df.write.format("noop").mode("overwrite").save()))
    val plan = spark.read.parquet(s"$inputs/plan.parquet")
    corpus = docs.select("doc_id", "text", "n_chars")
      .join(plan, Seq("doc_id"))
      .join(emb.select(col("vec_id").as("doc_id"), col("embedding")), Seq("doc_id"), "left")
      .cache()
    waves = corpus.agg(max("wave")).head().getInt(0) + 1
    val late = corpus.filter(col("late")).select("doc_id", "embedding")
    lateRows = late.collect()
    lateSchema = late.schema.add("prio", LongType)
    bench = Bridge.dropCheckpointConstraints(
      CurationFlow.benchShingles(docs).localCheckpoint())
    // the first waves as one untimed batch at prio 0: it warms every plan
    // and grows the store the timed waves probe
    run.warm {
      val rows = ingest(run, 0 until Prefill, 0L)
      decisions += rows
      corrections += deliver(run, rows, 0L)
    }
    wavesDone = Prefill
  }

  /** The documents of waves `ws`, the late ones without embedding. */
  private def waveInput(ws: Seq[Int]): DataFrame =
    corpus.filter(col("wave").isin(ws: _*))
      .select(col("doc_id"), col("text"), col("n_chars"),
        when(col("late"), lit(null)).otherwise(col("embedding")).as("embedding"))

  /** Decide and commit the documents of waves `ws` as one batch at
    * `prio`; returns the decision rows.
    */
  private def ingest(run: Run, ws: Seq[Int], prio: Long): Array[Row] = {
    val t = run.tracer
    val (staged, rows) = t.spanWith("ops.unified_decide") {
      val staged = UnifiedFlow.decide(store, waveInput(ws), bench, cursor)
      (staged, staged.decisions.select("doc_id", "status", "matched_id", "n_tok",
        "seq_id", "seq_offset").collect())
    } { case (_, rows) => Map("kept_frac" ->
      rows.count(_.getString(1) == "kept").toDouble / math.max(1, rows.length)) }
    t.spanWrites("ops.unified_commit", store)(UnifiedFlow.commit(store, staged, prio = prio))
    cursor = staged.cursor
    rows
  }

  /** The late pass: the embeddings of the kept documents among `rows`,
    * at `prio`, as a local frame (no job builds it).
    */
  private def deliver(run: Run, rows: Array[Row], prio: Long): Array[(Long, String)] = {
    val kept = rows.filter(_.getString(1) == "kept").map(_.getLong(0)).toSet
    val in = run.spark.createDataFrame(
      lateRows.filter(r => kept(r.getLong(0)))
        .map(r => Row(r.getLong(0), r.get(1), prio)).toSeq.asJava, lateSchema)
    run.tracer.spanWrites("ops.late_embeddings", store) {
      UnifiedFlow.lateEmbeddings(store, in).select("doc_id", "status").collect()
    }.map(r => (r.getLong(0), r.getString(1)))
  }

  override def maxRounds: Int = waves - Prefill

  def round(run: Run, i: Int): Unit = {
    val w = Prefill + i
    val t0 = System.nanoTime()
    run.op("stream.wave_s")(ingest(run, Seq(w), w.toLong)).foreach { rows =>
      decisions += rows
      docsIn += rows.length
      run.op("stream.late_s")(deliver(run, rows, w.toLong)).foreach(corrections += _)
    }
    streamS += (System.nanoTime() - t0) / 1e9
    wavesDone = w + 1
    if (i == 0) recordDigest(run)
  }

  /** The (doc_id, status) pairs of set-up and the first round go into the
    * run's digest.
    */
  private def recordDigest(run: Run): Unit =
    run.outputs ++= decisions.flatten.map(r => s"${r.getLong(0)}:${r.getString(1)}") ++
      corrections.flatten.map { case (d, s) => s"late:$d:$s" }

  def verify(run: Run): Unit = {
    val spark = run.spark
    import spark.implicits._
    val all = decisions.flatten
    (all.map(_.getString(1)) ++ corrections.flatten.map(_._2)).groupBy(identity)
      .foreach { case (s, xs) => run.values(s"stream.status.$s") = xs.size }
    val waveDocs = corpus.filter(col("wave") < wavesDone)
      .select("doc_id").as[Long].collect()
    run.check("one_decision_per_doc") {
      val ids = all.map(_.getLong(0))
      ids.size == ids.distinct.size && ids.toSet == waveDocs.toSet
    }
    // the vector store holds what stayed kept with an embedding: kept on
    // time with one, or attached late, minus later evictions
    val inVec = mutable.Map.empty[Long, Boolean]
    val onTime = corpus.filter(!col("late") && col("embedding").isNotNull)
      .select("doc_id").as[Long].collect().toSet
    all.foreach(r => inVec(r.getLong(0)) = r.getString(1) == "kept" && onTime(r.getLong(0)))
    corrections.flatten.foreach {
      case (d, "attached") => inVec(d) = true
      case (d, "embdup_late" | "semdup_late") => inVec(d) = false
      case _ => ()
    }
    val dec = all.map(r => (r.getLong(0), r.getString(1),
      Option(r.get(3)).map(_.asInstanceOf[Number].longValue),
      Option(r.get(4)).map(_.asInstanceOf[Number].longValue),
      Option(r.get(5)).map(_.asInstanceOf[Number].longValue),
      inVec(r.getLong(0)))).toSeq
      .toDF("doc_id", "status", "n_tok", "seq_id", "seq_offset", "vec_expected")
    val verdicted = Verdicts.withPackOk(dec
      .join(Verdicts.storedFlag(spark, s"$store/textmeta", "doc_id", "__meta"),
        Seq("doc_id"), "left")
      .join(Verdicts.storedFlag(spark, s"$store/vec/vectors", "vec_id", "__vec")
        .withColumnRenamed("vec_id", "doc_id"), Seq("doc_id"), "left")
      .withColumn("store_ok",
        Verdicts.storeOkCol(col("status") === "kept", "__meta") *
          Verdicts.storeOkCol(col("vec_expected"), "__vec")),
      "doc_id", PackBudget)
    val bad = verdicted.agg(sum(lit(1) - col("store_ok")), sum(lit(1) - col("pack_ok"))).head()
    run.check("store_ok_all_one")(bad.getLong(0) == 0)
    if (bad.getLong(0) != 0)
      verdicted.filter(col("store_ok") === 0).limit(5).collect()
        .foreach(r => run.errors += s"store_ok=0: $r")
    run.check("pack_ok_all_one")(bad.getLong(1) == 0)
  }

  def metrics(run: Run): Map[String, Double] = {
    val wave = Stats.median(run.samples("stream.wave_s").toSeq)
    val lateS = Stats.median(run.samples("stream.late_s").toSeq)
    run.values("stream.wave_s") = wave
    run.values("stream.late_s") = lateS
    run.values("stream.docs_per_s") = docsIn / streamS
    run.values("stream.store_bytes_per_doc") =
      Disk.bytes(store).toDouble / decisions.map(_.length).sum
    Map("op_s" -> wave, "aux_s" -> lateS, "throughput_per_s" -> docsIn / streamS)
  }
}

object CurationStream {
  val PackBudget = 256L
  /** Waves set-up ingests before the first timed one. */
  val Prefill = 1
}
