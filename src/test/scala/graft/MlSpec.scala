package graft

import org.apache.spark.sql.functions._
import graft.nn.Dims
import graft.train.{LinearAutoencoder, TrainConfig}

/** Model-side specs: encoder numerics, training convergence, scoring shape. */
class MlSpec extends SparkSpec {
  import spark.implicits._

  test("embedding dim rule matches factory.py:63-64") {
    assert(Dims.embeddingDim(3) == 2)
    assert(Dims.embeddingDim(49) == 25)
    assert(Dims.embeddingDim(100000) == 25)
  }

  test("profile prep: all-null c_acctbal passes through, segment vocab capped at 30000") {
    import graft.queries.MlOps
    val allNull = Seq((1L, "A"), (2L, "B"), (3L, "A"))
      .toDF("user_id", "c_mktsegment")
      .withColumn("c_acctbal", lit(null).cast("double"))
    val (enc, vocab) = MlOps.profileInputs(allNull, eventTypeCard = 4, maxCardinality = 30000)
    assert(vocab == Map("event_type" -> 5L, "c_mktsegment" -> 3L))
    assert(enc.select("c_acctbal").collect().forall(_.isNullAt(0)))
    // more distinct segments than the encoding keeps: vocab = cap + UNK row
    val wide = spark.range(30005).select(col("id").as("user_id"),
      concat(lit("s"), col("id").cast("string")).as("c_mktsegment"),
      (col("id") % 7).cast("double").as("c_acctbal"))
    val (enc2, vocab2) = MlOps.profileInputs(wide, eventTypeCard = 4, maxCardinality = 30000)
    assert(vocab2("c_mktsegment") == 30001L)
    val codes = enc2.agg(max("c_mktsegment"), min("c_acctbal"), max("c_acctbal")).head()
    assert(codes.getInt(0) < vocab2("c_mktsegment"))
    assert(codes.getDouble(1) == 0.0 && codes.getDouble(2) == 1.0)
  }

  test("linear AE training: loss strictly decreases on overfit-able data") {
    val data = (1 to 50).map(i => (i.toLong, i % 7 * 0.1, (i % 5) * 0.2, i % 3 * 0.3))
      .toDF("id", "a", "b", "c")
    val res = LinearAutoencoder.fit(data, Seq("a", "b", "c"),
      TrainConfig(nHidden = 3, lr = 5e-2, maxEpochs = 15, warmupEpochs = 2))
    assert(res.losses.size >= 3)
    assert(res.losses.last < res.losses.head,
      s"loss did not decrease: ${res.losses.head} -> ${res.losses.last}")
    // transform produces hidden-dim embeddings for every row
    val emb = LinearAutoencoder.transform(data, Seq("a", "b", "c"), res.weights, "id")
    assert(emb.count() == 50)
    assert(emb.select("ae_embedding").head().getSeq[Float](0).size == 3)
  }

  test("scoring query emits one embedding row per entity, scalar projections") {
    val out = SparkEntry.queries("q_score_embeddings")(spark, sf)
    val n = out.count()
    val users = graft.core.Tables.load(spark, sf, "events")
      .filter(col("ts") > to_timestamp(lit("2024-01-11 00:00:00")))
      .select("user_id").distinct().count()
    assert(n == users) // inner customer join: every user_id is a custkey
    // array payloads are projected to sortable scalars for the driver
    assert(out.columns.toSet == Set("user_id", "emb_norm", "emb_d0", "emb_d1", "emb_d2", "emb_d3"))
    val row = out.orderBy("user_id").head()
    assert(row.getDouble(out.columns.indexOf("emb_norm")) > 0.0)
  }

  test("training query: per-epoch losses decrease overall") {
    val losses = SparkEntry.queries("q_train_ae_loss")(spark, sf)
      .orderBy("epoch").select("loss").as[Double].collect()
    assert(losses.last < losses.head)
  }
}
