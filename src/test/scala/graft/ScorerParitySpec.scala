package graft

import org.apache.spark.sql.{DataFrame, Row}
import graft.ml.{CasprScorer, LstmScorerModel}
import graft.nn.{AeConfig, LstmAE, LstmAeConfig, LstmEncoderWeights, TransformerAE}
import graft.train.{LstmTrainer, TransformerTrainer}

/** Every scorer runs the one entity harness over one forward per
  * architecture: the Spark outputs equal the per-entity forward, bit for
  * bit. Inputs are decoded here straight from the wide rows, independent
  * of the harness. */
class ScorerParitySpec extends SparkSpec {

  private val T = 4
  private val catCols = Seq((1 to T).map(t => s"c_$t"))
  private val contCols = Seq("x", "y").map(n => (1 to T).map(t => s"${n}_$t"))

  /** 12 entities; c codes 0..5 (5 exceeds vocab 4: clamped), one null
    * cont cell (null-filled to 0.0), non-seq code `s` and double `b`. */
  private lazy val wide: DataFrame = {
    val rows = (1 to 12).map { id =>
      Row.fromSeq(Seq[Any](id.toLong) ++ (1 to T).map(t => (id * 7 + t) % 6) ++
        (1 to T).map(t => if (id == 3 && t == 2) null else (id * t % 5) * 0.25) ++
        (1 to T).map(t => ((id + t) % 4) - 1.5) ++
        Seq[Any](id % 3, id * 0.1))
    }
    import org.apache.spark.sql.types._
    val schema = StructType(StructField("id", LongType) +:
      ((1 to T).map(t => StructField(s"c_$t", IntegerType)) ++
        contCols.flatten.map(StructField(_, DoubleType)) ++
        Seq(StructField("s", IntegerType), StructField("b", DoubleType))))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)
  }

  private case class In(cat: Array[Array[Int]], cont: Array[Array[Double]],
      nsCat: Array[Int], nsCont: Array[Double])

  private lazy val inputs: Map[Long, In] = wide.collect().map { r =>
    def d(c: String) = if (r.isNullAt(r.fieldIndex(c))) 0.0 else r.getDouble(r.fieldIndex(c))
    r.getLong(0) -> In(
      Array.tabulate(T)(t => Array(r.getInt(r.fieldIndex(s"c_${t + 1}")))),
      Array.tabulate(T)(t => contCols.map(cs => d(cs(t))).toArray),
      Array(r.getInt(r.fieldIndex("s"))), Array(d("b")))
  }.toMap

  private def embeddings(df: DataFrame): Map[Long, Seq[Float]] =
    df.collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap

  private def assertSame(got: Map[Long, Seq[Float]], want: Long => Array[Float]): Unit = {
    assert(got.keySet == inputs.keySet)
    got.foreach { case (id, e) =>
      assert(e.toArray.sameElements(want(id)), s"entity $id differs")
    }
  }

  for (withNs <- Seq(false, true))
    test(s"transformer: seeded scorer, trainer transform and embed agree (non-seq = $withNs)") {
      val base = AeConfig(dModel = 8, heads = 2, layers = 2, pf = 8, seqLen = T,
        vocabSizes = Seq(4), nCont = 2, seed = 5L)
      val cfg = if (withNs) base.copy(nonSeqVocabSizes = Seq(3), nNonSeqCont = 1) else base
      val (nsCat, nsCont) = if (withNs) (Seq("s"), Seq("b")) else (Nil, Nil)
      val lay = cfg.layout
      val p = cfg.initParams()
      def embed(id: Long) = {
        val in = inputs(id)
        if (withNs) TransformerAE.embed(cfg, lay, p, in.cat, in.cont, in.nsCat, in.nsCont)
        else TransformerAE.embed(cfg, lay, p, in.cat, in.cont)
      }
      val scorer = CasprScorer.forWide(cfg, "id", Seq("c"), Seq("x", "y"), nsCat, nsCont)
      assertSame(embeddings(scorer.transform(wide)), embed)
      assertSame(embeddings(TransformerTrainer.transform(wide,
        TransformerTrainer.Result(cfg, p, Nil, 0), "id", catCols, contCols,
        nsCat, nsCont)), embed)
      assert(embed(1L).length == cfg.tEff * cfg.dModel)
    }

  test("transformer churn: transformChurn is the sigmoid head over embed") {
    val cfg = AeConfig(dModel = 8, heads = 2, layers = 1, pf = 8, seqLen = T,
      vocabSizes = Seq(4), nCont = 2, nonSeqVocabSizes = Seq(3), nNonSeqCont = 1,
      churn = true, seed = 9L)
    val lay = cfg.layout
    val p = cfg.initParams()
    val (wOff, _) = lay.offsets("churn_w")
    val (bOff, _) = lay.offsets("churn_b")
    val got = TransformerTrainer.transformChurn(wide,
      TransformerTrainer.Result(cfg, p, Nil, 0), "id", catCols, contCols,
      Seq("s"), Seq("b")).collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got.keySet == inputs.keySet)
    got.foreach { case (id, prob) =>
      val in = inputs(id)
      val emb = TransformerAE.embed(cfg, lay, p, in.cat, in.cont, in.nsCat, in.nsCont)
      var z = p(bOff)
      for (i <- emb.indices) z += p(wOff + i) * emb(i)
      assert(prob == 1.0 / (1.0 + math.exp(-z)), s"entity $id")
    }
  }

  test("LSTM: scorer equals LstmEncoderWeights.forward, trainer transform equals lossGradEmbed") {
    val w = LstmEncoderWeights.init(hidden = 6, outDim = 5, vocabSizes = Seq(4L),
      nCont = 2, nonSeqVocabSizes = Seq(3L), nNonSeqCont = 1)
    assertSame(embeddings(LstmScorerModel(w, "id", catCols, contCols,
      Seq("s"), Seq("b")).transform(wide)), { id =>
      val in = inputs(id)
      w.forward(in.cat, in.cont, in.nsCat, in.nsCont)
    })
    val cfg = LstmAeConfig(hidden = 6, outDim = 5, attnDim = 6, seqLen = T,
      vocabSizes = Seq(4), nCont = 2, nonSeqVocabSizes = Seq(3), nNonSeqCont = 1)
    val lay = cfg.layout
    val p = cfg.initParams()
    assertSame(embeddings(LstmTrainer.transform(wide,
      LstmTrainer.Result(cfg, p, Nil, 0), "id", catCols, contCols,
      Seq("s"), Seq("b"))), { id =>
      val in = inputs(id)
      LstmAE.lossGradEmbed(cfg, lay, p, null, in.cat, in.cont, in.nsCat, in.nsCont,
        embedOnly = true)._2.map(_.toFloat)
    })
  }
}
