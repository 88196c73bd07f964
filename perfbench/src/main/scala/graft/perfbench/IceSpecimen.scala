package graft.perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.pipeline.{GrainSelect, IcePipeline, PostProcess, SpecimenCut, VoronoiMesh}

/** The paper's pipeline, one specimen after another: Voronoi grain
  * generation with Lloyd relaxation, facet-deck export, a materialized cut
  * against the specimen solid, then an SoA snapshot series written and
  * read back through `graft.sources.SoABinSource` into per-particle deltas.
  *
  * Inputs (`<inputs>/specimens.tsv`, `<inputs>/snapshots.parquet`): one
  * line per specimen — mesh seed and sizes, then the solid — and the
  * snapshot frames every specimen writes.
  */
final class IceSpecimen(inputs: String, work: String) extends Workload {
  import IceSpecimen._

  private var specs: IndexedSeq[Spec] = IndexedSeq.empty
  private var frames: DataFrame = _
  private val outcomes = mutable.ArrayBuffer.empty[Outcome]
  /** The snapshot dirs kept for the read-back check. */
  private val written = mutable.ArrayBuffer.empty[String]

  def setup(run: Run): Unit = {
    val spark = run.spark
    specs = scala.io.Source.fromFile(s"$inputs/specimens.tsv").getLines()
      .filter(_.nonEmpty).map(parse).toIndexedSeq
    frames = Tables.table(spark, inputs, "snapshots")
      .select(col("step"), col("particle_id"), col("ux"), col("uy"),
        col("uz"), col("flag"))
      .cache()
    run.tracer.span("tables.scan")(frames.count())
    // one small warm specimen: the same plans at a fraction of the size
    val s0 = specs.head
    run.warm {
      specimen(run, s0.copy(cfg = s0.cfg.copy(sampleN = s0.cfg.sampleN / 10,
        relaxIterations = 1)), -1)
      snapshot(run, -1)
    }
  }

  private def dir(kind: String, i: Int): String = s"$work/ice/$kind-$i"

  private def specimen(run: Run, s: Spec, i: Int): Outcome = {
    val spark = run.spark
    val t = run.tracer
    val deck = dir("deck", i)
    val res = t.span("pipeline.generate")(IcePipeline.generate(spark, s.cfg))
    t.spanWrites("formats.facet_export", deck)(IcePipeline.exportFacets(res.facets, deck))
    val cut = t.spanWith("pipeline.cut") {
      IcePipeline.cut(spark, deck, s.solid, PlaneLo, PlaneHi).collect()
    }(rows => Map("kept_frac" ->
      rows.length.toDouble / math.max(1L, Disk.lines(deck) * ZStrips)))
    Outcome(s, res, cut, deck)
  }

  private def snapshot(run: Run, i: Int): String = {
    val t = run.tracer
    val soa = dir("soa", i)
    t.spanWrites("sources.soabin_write", soa) {
      frames.write.format(SoASource).option("path", soa).mode("append").save()
    }
    t.span("sources.soabin_read") {
      PostProcess.snapshotDeltas(run.spark.read.format(SoASource).load(s"$soa/*.bin"))
        .write.format("noop").mode("overwrite").save()
    }
    soa
  }

  def round(run: Run, i: Int): Unit = {
    val s = specs(i % specs.size)
    run.op("ice.specimen_s")(specimen(run, s, i)).foreach(outcomes += _)
    (0 until SnapshotsPerSpecimen).foreach { j =>
      val k = i * SnapshotsPerSpecimen + j
      // the first series of each specimen stays on disk for the checks
      run.op("ice.snapshot_s")(snapshot(run, k)).foreach(soa =>
        if (j == 0) written += soa else Disk.delete(new File(soa)))
    }
    // Lloyd relaxation runs inside generate; the traced run times it once
    // more on its own, so its share of generate is known. It runs last, so
    // the timed operations of the first round meet the same warm state as
    // in an untraced run.
    if (run.tracer.enabled)
      run.tracer.span("pipeline.lloyd")(VoronoiMesh.lloydRelax(run.spark, s.cfg))
  }

  /** The checks run after the measured phase, over every round's outputs;
    * the first specimen's go into the run's digest, since how many rounds
    * run depends on the clock.
    */
  def verify(run: Run): Unit = {
    run.check("specimens_completed")(outcomes.nonEmpty)
    outcomes.zipWithIndex.foreach { case (o, i) => checkSpecimen(run, o, i == 0) }
    written.foreach(soa => run.check("soabin_readback_equals_written") {
      val back = run.spark.read.format(SoASource).load(s"$soa/*.bin")
      back.except(frames).isEmpty && frames.except(back).isEmpty
    })
    (outcomes.map(_.deck) ++ written).foreach(d => Disk.delete(new File(d)))
  }

  private def checkSpecimen(run: Run, o: Outcome, record: Boolean): Unit = {
    val deckLines = Disk.lines(o.deck)
    if (record) run.outputs += s"${o.spec.cfg.seed}: layer1=${o.res.selected.sorted.mkString(",")} " +
      s"layer2=${o.res.layer2.sorted.mkString(",")} deck=$deckLines cut=${o.cut.length}"
    val adj = GrainSelect.adjacency(o.res.elements).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    Seq("layer1" -> o.res.selected, "layer2" -> o.res.layer2).foreach {
      case (name, layer) =>
        val set = layer.toSet
        run.check(s"${name}_independent_set")(
          layer.nonEmpty && !adj.exists { case (a, b) => set(a) && set(b) })
    }
    run.check("cut_facets_inside_solid")(
      o.cut.nonEmpty && o.cut.forall(r => inside(o.spec.solid, r)))
    run.check("deck_lines_equal_facet_rows")(deckLines == o.res.facets.count())
  }

  /** Specimens per second of program time: each specimen with its
    * snapshot series, from the timed operations alone.
    */
  def metrics(run: Run): Map[String, Double] = {
    val specS = run.samples("ice.specimen_s").toSeq
    val snapS = run.samples("ice.snapshot_s").toSeq
    val spec = Stats.median(specS)
    val snap = Stats.median(snapS)
    run.values("ice.specimen_s") = spec
    run.values("ice.snapshot_s") = snap
    Map("op_s" -> spec, "aux_s" -> snap,
      "throughput_per_s" -> specS.size / (specS.sum + snapS.sum))
  }
}

object IceSpecimen {
  val SoASource = "graft.sources.SoABinSource"
  // clipping planes and strip count of the reference's cut
  // (`BooleanOperation.py:129-149`), at the 25-unit extrusion
  val PlaneLo = 2.0
  val PlaneHi = 23.0
  val ZStrips = 10
  /** Snapshot series written and read back per specimen; their median is
    * steadier than one short operation, and the first series after a
    * specimen runs slower than the rest.
    */
  val SnapshotsPerSpecimen = 5

  final case class Spec(cfg: VoronoiMesh.MeshConfig, solid: SpecimenCut.Solid)
  final case class Outcome(spec: Spec, res: IcePipeline.Result, cut: Array[Row],
      deck: String)

  /** `seed grains width height iterations samples solid params...` */
  def parse(line: String): Spec = {
    val f = line.trim.split("\\s+")
    val cfg = VoronoiMesh.MeshConfig(width = f(2).toDouble, height = f(3).toDouble,
      nGrains = f(1).toInt, relaxIterations = f(4).toInt, sampleN = f(5).toInt,
      seed = f(0).toLong, extrusion = 25.0)
    val p = f.drop(7).map(_.toDouble)
    val solid = f(6) match {
      case "box" => SpecimenCut.Box(p(0), p(1), p(2), p(3), p(4), p(5))
      case "sphere" => SpecimenCut.Sphere(p(0), p(1), p(2), p(3))
      case "cylinder" => SpecimenCut.CylinderZ(p(0), p(1), p(2), p(3), p(4))
      case other => throw new IllegalArgumentException(s"unknown solid $other")
    }
    Spec(cfg, solid)
  }

  /** The facet centroid against the solid, computed apart from Spark. */
  def inside(solid: SpecimenCut.Solid, r: Row): Boolean = {
    def c(axis: String) =
      (1 to 4).map(v => r.getAs[Double](s"$axis$v")).sum / 4
    val (x, y, z) = (c("x"), c("y"), c("z"))
    solid match {
      case SpecimenCut.Box(x1, x2, y1, y2, z1, z2) =>
        x >= x1 && x <= x2 && y >= y1 && y <= y2 && z >= z1 && z <= z2
      case SpecimenCut.Sphere(cx, cy, cz, rad) =>
        (x - cx) * (x - cx) + (y - cy) * (y - cy) + (z - cz) * (z - cz) <= rad * rad
      case SpecimenCut.CylinderZ(cx, cy, z1, z2, rad) =>
        (x - cx) * (x - cx) + (y - cy) * (y - cy) <= rad * rad && z >= z1 && z <= z2
    }
  }
}
