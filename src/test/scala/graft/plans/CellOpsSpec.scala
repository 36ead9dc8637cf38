package graft.plans

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSession
import graft.ops.Similarity

/** Parity pins for the r20 native ANN kernels: each expression must be
  * bit-identical to the composed built-in formulation it replaced, on
  * real embedding data, so the oracle evidence for the composed forms
  * transfers (the q40/q71/q73/q75 oracles replay training in SQL).
  */
class CellOpsSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark
  import spark.implicits._

  private lazy val emb =
    graft.sources.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")

  private lazy val vecs =
    emb.select(col("vec_id").as("cid"), col("embedding").as("cv"))

  // realistic trained centroids/codebooks (quantized units)
  private lazy val cents = Similarity.kmeansCentroids(vecs, "cv", "cid", 8, 2)
  private lazy val cbs = Similarity.pqTrain(vecs, "cv", "cid", 64, 8, 16, 2)

  test("QuantizeVec == composed transform/floor form (incl. null elements)") {
    val base = emb.select(col("embedding").as("v"))
      .unionByName(
        Seq(
          Some(Seq[Option[Float]](Some(1.5f), None, Some(-2.25f))),
          None
        ).toDF("v").select(col("v").cast("array<float>").as("v"))
      )
    val mismatches = base
      .select(
        Similarity.quantizeVec(col("v")).as("native"),
        ComposedForms.quantizeVec(col("v")).as("composed")
      )
      .filter(!(col("native") <=> col("composed")))
      .count()
    assert(mismatches === 0)
  }

  test("NearestCell == -array_max(scoredCells).negid (literal argmax)") {
    val q = emb.select(Similarity.quantizeVec(col("embedding")).as("qvq"))
    val mismatches = q
      .select(
        CellOps.nearestCell(col("qvq"), cents).as("native"),
        ComposedForms.nearestCell(col("qvq"), cents).as("composed")
      )
      .filter(!(col("native") <=> col("composed")))
      .count()
    assert(mismatches === 0)
  }

  test("TopCells == slice(reverse(array_sort(scoredCells)), 1, nProbe) ids, in order") {
    for (nProbe <- Seq(1, 3, 8, 20)) {
      val q = emb.select(Similarity.quantizeVec(col("embedding")).as("qvq"))
      val mismatches = q
        .select(
          CellOps.topCells(col("qvq"), cents, nProbe).as("native"),
          ComposedForms.topCells(col("qvq"), cents, nProbe).as("composed")
        )
        .filter(!(col("native") <=> col("composed")))
        .count()
      assert(mismatches === 0, s"nProbe=$nProbe")
    }
  }

  test("PqReconstruct == composed concat(lit(cb)(code)) decode (incl. null codes)") {
    // degenerate non-null codes (too few / out-of-range) are NOT in the
    // parity domain: the composed GetArrayItem raises under ANSI where
    // the native expression yields null — and no real path produces
    // them (PqCodes always emits m in-range codes)
    val codes = vecs
      .select(
        col("cid"),
        PqCodes.pqCodes(Similarity.quantizeVec(col("cv")), cbs).as("codes")
      )
      .unionByName(
        Seq((-3L, None: Option[Seq[Option[Int]]])).toDF("cid", "codes")
      )
    val mismatches = codes
      .select(
        CellOps.pqReconstruct(col("codes"), cbs).as("native"),
        ComposedForms.pqDecode(col("codes"), cbs).as("composed")
      )
      .filter(!(col("native") <=> col("composed")))
      .count()
    assert(mismatches === 0)
  }

  test("PqReconstructResidual == composed zip_with(centMap, decode, +)") {
    val assigned = Similarity.assignCells(vecs, cents)
    val codes = assigned.select(
      col("cid"),
      col("cent_id"),
      PqCodes.pqCodes(Similarity.quantizeVec(col("cv")), cbs).as("codes")
    )
    val mismatches = codes
      .select(
        CellOps.pqReconstructResidual(col("codes"), col("cent_id"), cbs, cents).as("native"),
        ComposedForms.pqDecodeResidual(col("codes"), col("cent_id"), cbs, cents).as("composed")
      )
      .filter(!(col("native") <=> col("composed")))
      .count()
    assert(mismatches === 0)
  }

  test("ResidualVec == composed zip_with(quantize, centMap, -) (incl. null cent_id)") {
    val assigned = Similarity.assignCells(vecs, cents)
      .unionByName(
        // unknown cent_id and null cent_id rows
        Seq(
          (-1L, Some(Seq.fill(64)(Some(0.5f))), Some(9999L)),
          (-2L, Some(Seq.fill(64)(Some(0.5f))), None)
        ).toDF("cid", "cv", "cent_id")
          .select(col("cid"), col("cv").cast("array<float>").as("cv"), col("cent_id"))
      )
    val mismatches = assigned
      .select(
        CellOps.residualVec(col("cv"), col("cent_id"), cents, Similarity.TrainScale).as("native"),
        ComposedForms.residualVec(col("cv"), col("cent_id"), cents).as("composed")
      )
      .filter(!(col("native") <=> col("composed")))
      .count()
    assert(mismatches === 0)
  }

  test("VecLongSum single-agg Lloyd means == composed two-groupBy floor means") {
    val assigned = Similarity.assignCells(vecs, cents).filter(col("cent_id").isNotNull)
    val composed = assigned
      .select(col("cent_id"), posexplode(ComposedForms.quantizeVec(col("cv"))).as(Seq("pos", "x")))
      .groupBy(col("cent_id"), col("pos"))
      .agg(
        floor(sum(col("x").cast("long")).cast("double") / count(lit(1)).cast("double")).as("m")
      )
      .groupBy(col("cent_id"))
      .agg(
        transform(array_sort(collect_list(struct(col("pos"), col("m")))), s => s.getField("m"))
          .as("v")
      )
      .as[(Long, Seq[Double])]
      .collect()
      .toMap
    val native = assigned
      .select(col("cent_id"), Similarity.quantizeVec(col("cv")).as("qv"))
      .groupBy(col("cent_id"))
      .agg(VecLongSum.agg(col("qv")).as("sc"))
      .as[(Long, Seq[Long])]
      .collect()
      .map { case (id, sc) =>
        val n = sc.last.toDouble
        id -> sc.dropRight(1).map(s => math.floor(s.toDouble / n).toLong.toDouble).toSeq
      }
      .toMap
    assert(native.keySet === composed.keySet)
    native.keySet.foreach { id =>
      assert(native(id) === composed(id), s"cent_id=$id")
    }
  }

  test("native expressions stay inside WholeStageCodegen (no CodegenFallback drop-out)") {
    val q = emb.select(
      CellOps.nearestCell(Similarity.quantizeVec(col("embedding")), cents).as("cell")
    )
    val hasWsc = q.queryExecution.executedPlan.collect {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
    }.nonEmpty
    assert(hasWsc, q.queryExecution.executedPlan.toString)
  }
}
