package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.{SparkEntry, Tables}

/** A fixed sample of `SparkEntry.queries` keys, in sorted order, each
  * built and saved to the noop sink, over the seeded tables under
  * `<inputs>`. Set-up scans every base table and makes one untimed warm
  * pass; a round is one full timed pass. Each key's row count must equal
  * its warm-pass count; the counts are read after the measured phase, so
  * no timed operation waits for them.
  */
final class Catalog(inputs: String) extends Workload {
  private val keys = Catalog.Keys
  private val warmRows = mutable.Map.empty[String, Long]
  private val passS = mutable.ArrayBuffer.empty[Double]
  /** Each timed (key, row-count observation), read in `verify`. */
  private val timed = mutable.ArrayBuffer.empty[(String, Observation)]

  private val tables: Seq[(SparkSession, String) => DataFrame] = Seq(
    Tables.region, Tables.nation, Tables.customer, Tables.supplier,
    Tables.part, Tables.orders, Tables.lineitem, Tables.events,
    Tables.embeddings, Tables.documents)

  /** Build and save one key; returns the observation of its row count. */
  private def runKey(run: Run, key: String): Observation = {
    val obs = Observation(s"rows_$key")
    val df = run.tracer.span("queries.build")(SparkEntry.queries(key)(run.spark, inputs))
    run.tracer.span("queries.exec") {
      df.observe(obs, count(lit(1)).as("n")).write.format("noop").mode("overwrite").save()
    }
    obs
  }

  private def rows(obs: Observation): Long = obs.get("n").asInstanceOf[Long]

  def setup(run: Run): Unit = {
    tables.foreach(t => run.tracer.span("tables.scan") {
      t(run.spark, inputs).write.format("noop").mode("overwrite").save()
    })
    keys.foreach(k => run.warm(rows(runKey(run, k))).foreach(n => warmRows(k) = n))
  }

  /** Two passes at least: a key's time is its median over the passes. */
  override def minRounds: Int = 2

  def round(run: Run, i: Int): Unit = {
    val t0 = System.nanoTime()
    keys.foreach { k =>
      run.op(s"catalog.query_s.$k")(runKey(run, k)).foreach(obs => timed += k -> obs)
    }
    passS += (System.nanoTime() - t0) / 1e9
  }

  def verify(run: Run): Unit = {
    run.check("every_key_ran")(warmRows.size == keys.size)
    timed.foreach { case (k, obs) =>
      run.check("rows_equal_warm_pass")(warmRows.get(k).contains(rows(obs)))
    }
    run.outputs ++= warmRows.map { case (k, n) => s"$k:$n" }
  }

  def metrics(run: Run): Map[String, Double] = {
    val q = keys.flatMap(k => run.samples.get(s"catalog.query_s.$k")).map(xs => Stats.median(xs.toSeq))
    val pass = Stats.median(passS.toSeq)
    run.values("catalog.pass_s") = pass
    run.values("catalog.query_s.p50") = Stats.quantile(q, 0.5)
    run.values("catalog.query_s.p90") = Stats.quantile(q, 0.9)
    run.values("catalog.keys") = keys.size
    Map("op_s" -> Stats.quantile(q, 0.5), "aux_s" -> Stats.quantile(q, 0.9),
      "throughput_per_s" -> keys.size / pass)
  }
}

object Catalog {
  /** Every eleventh key of the sorted catalog, the five flow composites
    * (`q_curation_pipeline`, `q_curation_incremental`, `q_vector_curation`,
    * `q_unified_curation`, `q_unified_late`) left out: the curation_stream
    * workload drives their flows directly. A pass over all 131 keys takes
    * minutes on four cores, longer than a run may last. The list is fixed,
    * so keys added to the catalog later do not change the workload.
    */
  val Keys: Seq[String] = Seq(
    "q_affine", "q_asof_curve", "q_conditional_agg", "q_distinct_count",
    "q_embedding_topk", "q_group_agg", "q_lang_id", "q_pack_sequences",
    "q_regression", "q_self_join_pairs", "q_string_ops", "q_weibull_strength")
}
