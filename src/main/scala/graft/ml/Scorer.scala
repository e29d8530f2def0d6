package graft.ml

import org.apache.spark.sql.DataFrame
import graft.nn.{AeConfig, TransformerAE}

/**
 * The serving entry point (SURVEY.md §3.3, J6): entity embeddings from the
 * featurizer's wide output.
 *
 * The reference routes this through a pandas_udf that rebuilds a torch
 * dataset per Arrow batch (caspr/utils/spark/score.py:18-78 — JVM -> Arrow
 * -> Python -> C++ per batch). Here it is a typed mapPartitions with
 * broadcast weights ([[Ingress.score]]): pure JVM, no serialization hop,
 * parallelism = input partitions, constant memory per task. On a
 * 1000-executor cluster the weights broadcast once per executor (~a few MB
 * at d=64) and scoring is embarrassingly parallel. Ingress is the
 * codegen-narrowed positional projection — no unused columns deserialized,
 * primitive getters per cell.
 *
 * The forward is [[TransformerAE.embed]] over flat params, the same one
 * training runs: seeded ([[CasprScorer.forWide]]) and trained
 * ([[graft.train.TransformerTrainer.transform]], [[CasprModel]]) weights
 * score through this class.
 */
final case class CasprScorerModel(
    cfg: AeConfig,
    params: Array[Double],
    idCol: String,
    seqCatCols: Seq[Seq[String]],  // per cat feature: its T wide columns
    seqContCols: Seq[Seq[String]],
    nonSeqCatCols: Seq[String] = Nil,  // pre-encoded int codes, one per ns cat
    nonSeqContCols: Seq[String] = Nil) {

  /** Adds an `embedding: array<float>` column of length (T' * dModel),
    * T' = T+1 when non-seq features feed the extra timestep (I8). */
  def transform(wide: DataFrame): DataFrame = {
    val lay = cfg.layout
    val bc = wide.sparkSession.sparkContext.broadcast(params)
    val conf = cfg // a local: the closure must not capture `this` (params ride the broadcast)
    Ingress.score(wide, idCol,
      InputColumns(seqCatCols, seqContCols, nonSeqCatCols, nonSeqContCols),
      Ingress.EmbeddingField) { () =>
      val p = bc.value
      e => TransformerAE.embed(conf, lay, p, e.seqCat, e.seqCont, e.nsCat, e.nsCont)
    }
  }
}

/**
 * LSTM-architecture scorer (the reference's second encoder; arch switch at
 * caspr/utils/spark/score.py:53-61 — transformer emits flattened enc_src,
 * LSTM emits the attention-fused hidden state). Same harness as the
 * transformer scorer.
 */
final case class LstmScorerModel(
    weights: graft.nn.LstmEncoderWeights,
    idCol: String,
    seqCatCols: Seq[Seq[String]],
    seqContCols: Seq[Seq[String]],
    nonSeqCatCols: Seq[String] = Nil,  // pre-encoded int codes
    nonSeqContCols: Seq[String] = Nil) {

  def transform(wide: DataFrame): DataFrame = {
    val bc = wide.sparkSession.sparkContext.broadcast(weights)
    Ingress.score(wide, idCol,
      InputColumns(seqCatCols, seqContCols, nonSeqCatCols, nonSeqContCols),
      Ingress.EmbeddingField) { () =>
      val w = bc.value
      e => w.forward(e.seqCat, e.seqCont, e.nsCat, e.nsCont)
    }
  }
}

object CasprScorer {

  /** Build a seeded-weight scorer (`cfg.initParams()`) for a featurizer
    * wide output: the wide columns are `<name>_1 .. <name>_<cfg.seqLen>`
    * per seq feature, in `cfg`'s column order. `nonSeqCat` columns must
    * already be int codes (Encoding.apply); non-seq features enter as the
    * appended extra timestep (I8). */
  def forWide(cfg: AeConfig, idCol: String,
      seqCat: Seq[String], seqCont: Seq[String],
      nonSeqCat: Seq[String] = Nil, nonSeqCont: Seq[String] = Nil): CasprScorerModel = {
    require(seqCat.size == cfg.vocabSizes.size && seqCont.size == cfg.nCont &&
      nonSeqCat.size == cfg.nonSeqVocabSizes.size && nonSeqCont.size == cfg.nNonSeqCont,
      "the column lists must match cfg's vocabSizes / nCont / nonSeqVocabSizes / nNonSeqCont")
    def cols(names: Seq[String]) = names.map(c => (1 to cfg.seqLen).map(t => s"${c}_$t"))
    CasprScorerModel(cfg, cfg.initParams(), idCol, cols(seqCat), cols(seqCont),
      nonSeqCat, nonSeqCont)
  }
}
