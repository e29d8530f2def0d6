package graft.ml

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One entity's decoded model inputs: seq cat codes (T x nCat), seq cont
  * (T x nCont), non-seq cat codes, non-seq doubles. */
private[graft] final case class EntityInputs(
    seqCat: Array[Array[Int]], seqCont: Array[Array[Double]],
    nsCat: Array[Int], nsCont: Array[Double])

/** The wide columns a model reads: per seq feature its T timestep
  * columns, then the non-seq columns (cat as int codes). */
private[graft] final case class InputColumns(
    seqCat: Seq[Seq[String]], seqCont: Seq[Seq[String]],
    nsCat: Seq[String] = Nil, nsCont: Seq[String] = Nil) {
  private val t = seqCat.headOption.map(_.size)
    .orElse(seqCont.headOption.map(_.size)).getOrElse(0)
  private val nCat = seqCat.size
  private val nCont = seqCont.size

  /** Decodes one row of [[Ingress]]'s projection (id at 0, then seq cat
    * col-major, seq cont col-major, ns cat, ns cont). */
  private[ml] def decode(row: Row): EntityInputs = {
    val ns = 1 + (nCat + nCont) * t
    EntityInputs(
      Array.tabulate(t, nCat)((ts, c) => row.getInt(1 + c * t + ts)),
      Array.tabulate(t, nCont)((ts, c) => row.getDouble(1 + (nCat + c) * t + ts)),
      Array.tabulate(nsCat.size)(c => row.getInt(ns + c)),
      Array.tabulate(nsCont.size)(c => row.getDouble(ns + nsCat.size + c)))
  }
}

/**
 * Row ingress for the model-side operators (scorers, trainers, explainer).
 *
 * `wide.rdd` over the raw featurizer output deserializes EVERY column of
 * every row — including string profile columns the model never reads — and
 * the extraction then pays a megamorphic `asInstanceOf[Number]` per cell.
 * Fine at sf0.1, measurable at 100x. This helper pushes the narrowing,
 * casts, and null fills into the Catalyst projection (whole-stage codegen),
 * so the deserialized row is exactly [id, seq cat (col-major int), seq cont
 * (col-major double), ns cat (int), ns cont (double)] and per-row access is
 * positional primitive getters. The layout stays inside this file: callers
 * receive decoded [[EntityInputs]].
 */
private[graft] object Ingress {

  val EmbeddingField: StructField =
    StructField("embedding", ArrayType(FloatType, containsNull = false))

  private def project(wide: DataFrame, idCol: String, in: InputColumns): DataFrame =
    wide.select(
      col(idCol) +:
      (in.seqCat.flatten.map(c => coalesce(col(c).cast("int"), lit(0)).as(c)) ++
       in.seqCont.flatten.map(c => coalesce(col(c).cast("double"), lit(0.0)).as(c)) ++
       in.nsCat.map(c => coalesce(col(c).cast("int"), lit(0)).as(c)) ++
       in.nsCont.map(c => coalesce(col(c).cast("double"), lit(0.0)).as(c))): _*)

  /**
   * The one entity harness: a typed mapPartitions over the projection.
   * `perPartition` runs once per task (broadcast reads, scratch) and
   * returns the per-entity function; each of its output rows is prefixed
   * with the entity id and typed by `out`.
   */
  def mapEntities(wide: DataFrame, idCol: String, in: InputColumns,
      out: Seq[StructField])(
      perPartition: () => EntityInputs => Iterator[Seq[Any]]): DataFrame = {
    val proj = project(wide, idCol, in)
    proj.mapPartitions { rows =>
      val f = perPartition()
      rows.flatMap { row =>
        val id = row.get(0)
        f(in.decode(row)).map(vs => Row.fromSeq(id +: vs))
      }
    }(Encoders.row(StructType(proj.schema(0) +: out)))
  }

  /** (id, value) scoring: one `out` value per entity. */
  def score(wide: DataFrame, idCol: String, in: InputColumns, out: StructField)(
      perPartition: () => EntityInputs => Any): DataFrame =
    mapEntities(wide, idCol, in, Seq(out)) { () =>
      val f = perPartition()
      e => Iterator.single(Seq(f(e)))
    }

  /** Training examples (entity inputs, label) — the trainers' shared
    * extractor. The label (0.0 without `labelCol`) rides the projection as
    * one extra ns-cont double. */
  def examples(wide: DataFrame, in: InputColumns,
      labelCol: Option[String]): RDD[(EntityInputs, Double)] = {
    val withLabel = in.copy(nsCont = in.nsCont ++ labelCol.toSeq)
    val hasLabel = labelCol.isDefined
    // any column works as the projection's id anchor
    project(wide, wide.columns.head, withLabel).rdd.map { row =>
      val e = withLabel.decode(row)
      if (hasLabel) (e.copy(nsCont = e.nsCont.dropRight(1)), e.nsCont.last)
      else (e, 0.0)
    }
  }

  /** Decoded inputs of the `n` entities with the smallest ids (a
    * deterministic sample, e.g. explainer baselines). */
  def smallestIds(wide: DataFrame, idCol: String, in: InputColumns,
      n: Int): Array[EntityInputs] =
    project(wide, idCol, in).orderBy(col(idCol)).limit(n).collect().map(in.decode)
}
