package graft.train

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{DoubleType, StructField}
import graft.ml.{CasprScorerModel, EntityInputs, Ingress, InputColumns}
import graft.nn.{AeConfig, TransformerAE}

/**
 * Distributed transformer-autoencoder pretraining (SURVEY.md §3.2),
 * driving the gradient-checked TransformerAE backward through the shared
 * [[EpochLoop]] harness. Reference lifecycle J1/J2/J4/J5 (train.py:133-193,
 * spark/large/train.py:112-261).
 *
 * Epoch semantics (see EpochLoop): by default each epoch covers the FULL
 * corpus in ceil(n/batchSize) optimizer steps on disjoint ~batchSize random
 * slices — the reference's steps_per_epoch batching (spark/large/
 * train.py:35). `examplesPerEpoch` caps the per-epoch sample for smoke/
 * bench budgets (that is less optimization per epoch than the reference;
 * the monitored loss then comes from a fixed forward-only probe sample).
 * Per-epoch cost is one pass over the epoch sample plus one shuffle into
 * step slices — each example is read and trained on exactly once per epoch.
 */
object TransformerTrainer {

  final case class Result(cfg: AeConfig, params: Array[Double],
      losses: Seq[Double], stoppedAt: Int)

  private type Example = (EntityInputs, Double)

  def fit(wide: DataFrame, cfg: AeConfig,
      seqCatCols: Seq[Seq[String]], seqContCols: Seq[Seq[String]],
      train: TrainConfig,
      nonSeqCatCols: Seq[String] = Nil, nonSeqContCols: Seq[String] = Nil,
      labelCol: Option[String] = None,
      batchSize: Int = 4096,
      examplesPerEpoch: Option[Int] = None): Result = {
    require(labelCol.isEmpty || cfg.churn,
      "labelCol only feeds the churn objective (churn = true)")
    require(!cfg.churn || labelCol.nonEmpty,
      "churn = true trains BCE against labelCol — pass one")
    val lay = cfg.layout
    val data = Ingress.examples(wide,
        InputColumns(seqCatCols, seqContCols, nonSeqCatCols, nonSeqContCols), labelCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val params = cfg.initParams()
    // the monitoring probe evaluates WITHOUT dropout (inference behavior,
    // keeps the early-stop signal noise-free); layout is dropout-independent
    val cfgEval = cfg.copy(dropout = 0.0)
    // dropout masks draw from EpochLoop's per-example seed
    val res = try EpochLoop.runSeeded(data, params, train, batchSize, examplesPerEpoch,
      (p: Array[Double], a: Array[Double], ex: Example, seed: Long) =>
        TransformerAE.lossAndGrad(cfg, lay, p, a, ex._1.seqCat, ex._1.seqCont,
          nsCat = ex._1.nsCat, nsCont = ex._1.nsCont, label = ex._2, dropSeed = seed),
      lossOnly = Some((p: Array[Double], ex: Example) =>
        TransformerAE.lossAndGrad(cfgEval, lay, p, null, ex._1.seqCat, ex._1.seqCont,
          nsCat = ex._1.nsCat, nsCont = ex._1.nsCont, label = ex._2)),
      frozenRanges = cfg.frozenRanges)
    finally data.unpersist()
    Result(cfg, params, res.losses, res.stoppedAt)
  }

  /** I16 churn scoring: sigmoid of the trained head over the flattened
    * encoder output, alongside nothing else — probabilities per entity. */
  def transformChurn(wide: DataFrame, res: Result, idCol: String,
      seqCatCols: Seq[Seq[String]], seqContCols: Seq[Seq[String]],
      nonSeqCatCols: Seq[String] = Nil,
      nonSeqContCols: Seq[String] = Nil): DataFrame = {
    require(res.cfg.churn, "transformChurn needs a churn-trained Result")
    val cfg = res.cfg
    val lay = cfg.layout
    val bc = wide.sparkSession.sparkContext.broadcast(res.params)
    Ingress.score(wide, idCol,
      InputColumns(seqCatCols, seqContCols, nonSeqCatCols, nonSeqContCols),
      StructField("churn_prob", DoubleType, nullable = false)) { () =>
      val p = bc.value
      val (wOff, _) = lay.offsets("churn_w")
      val (bOff, _) = lay.offsets("churn_b")
      e => {
        // embed() returns the row-major-flattened encoder output — exactly
        // the churn head's input view (model_wrapper.py:297-298)
        val emb = TransformerAE.embed(cfg, lay, p, e.seqCat, e.seqCont, e.nsCat, e.nsCont)
        var z = p(bOff)
        var i = 0
        while (i < emb.length) { z += p(wOff + i) * emb(i); i += 1 }
        1.0 / (1.0 + math.exp(-z))
      }
    }
  }

  /** Score with trained weights: embedding = flattened encoder output over
    * tEff timesteps (+1 with non-seq features, I8) — [[CasprScorerModel]]
    * over `res`. */
  def transform(wide: DataFrame, res: Result, idCol: String,
      seqCatCols: Seq[Seq[String]], seqContCols: Seq[Seq[String]],
      nonSeqCatCols: Seq[String] = Nil, nonSeqContCols: Seq[String] = Nil): DataFrame =
    CasprScorerModel(res.cfg, res.params, idCol, seqCatCols, seqContCols,
      nonSeqCatCols, nonSeqContCols).transform(wide)
}
