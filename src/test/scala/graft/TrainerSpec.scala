package graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import graft.nn.AeConfig
import graft.train.{Adam, EarlyStopping, EpochLoop, LrSchedule, TrainConfig, TransformerTrainer}

/** Distributed transformer-AE training on the real featurized fixture. */
class TrainerSpec extends SparkSpec {

  test("BENCH-4 train-smoke: loss decreases over epochs on sf0.001") {
    val wide = SparkEntry.queries("q_pipeline_e2e")(spark, sf)
    val catCols = Seq((1 to 5).map(t => s"event_type_$t"))
    val contCols = Seq("value", "ts_days").map(c => (1 to 5).map(t => s"${c}_$t"))
    val cfg = AeConfig(dModel = 8, heads = 2, layers = 1, pf = 8,
      seqLen = 5, vocabSizes = Seq(6), nCont = 2)
    val res = TransformerTrainer.fit(wide, cfg, catCols, contCols,
      TrainConfig(lr = 1e-2, maxEpochs = 5, warmupEpochs = 1))
    assert(res.losses.size == 5)
    assert(res.losses.last < res.losses.head,
      s"losses not decreasing: ${res.losses}")
    val scored = TransformerTrainer.transform(wide, res, "user_id", catCols, contCols)
    assert(scored.count() == wide.count())
    assert(scored.select("embedding").head().getSeq[Float](0).size == 5 * 8)
  }

  test("non-seq branch trains distributed: extra timestep + ns heads (I8)") {
    import org.apache.spark.sql.functions._
    val wide = SparkEntry.queries("q_pipeline_e2e")(spark, sf)
      .withColumn("acct_n", col("c_acctbal") / lit(10000.0)) // tame the MSE scale
    val catCols = Seq((1 to 5).map(t => s"event_type_$t"))
    val contCols = Seq("value", "ts_days").map(c => (1 to 5).map(t => s"${c}_$t"))
    val cfg = AeConfig(dModel = 8, heads = 2, layers = 1, pf = 8,
      seqLen = 5, vocabSizes = Seq(6), nCont = 2,
      nonSeqVocabSizes = Seq(2), nNonSeqCont = 1) // churn as the ns cat
    val res = TransformerTrainer.fit(wide, cfg, catCols, contCols,
      TrainConfig(lr = 1e-2, maxEpochs = 4, warmupEpochs = 1),
      nonSeqCatCols = Seq("churn"), nonSeqContCols = Seq("acct_n"))
    assert(res.losses.last < res.losses.head, s"losses: ${res.losses}")
    val scored = TransformerTrainer.transform(wide, res, "user_id", catCols, contCols,
      nonSeqCatCols = Seq("churn"), nonSeqContCols = Seq("acct_n"))
    assert(scored.count() == wide.count())
    // T+1 timesteps in the serving embedding
    assert(scored.select("embedding").head().getSeq[Float](0).size == 6 * 8)
  }

  test("teacher-forced LSTM AE trains distributed (I13/I15)") {
    val wide = SparkEntry.queries("q_pipeline_e2e")(spark, sf)
    val catCols = Seq((1 to 5).map(t => s"event_type_$t"))
    val contCols = Seq("value", "ts_days").map(c => (1 to 5).map(t => s"${c}_$t"))
    val cfg = graft.nn.LstmAeConfig(hidden = 8, outDim = 8, attnDim = 4,
      seqLen = 5, vocabSizes = Seq(6), nCont = 2, decoder = "teacher")
    val res = graft.train.LstmTrainer.fit(wide, cfg, catCols, contCols,
      TrainConfig(lr = 1e-2, maxEpochs = 4, warmupEpochs = 1))
    assert(res.losses.last < res.losses.head, s"losses: ${res.losses}")
    val scored = graft.train.LstmTrainer.transform(wide, res, "user_id", catCols, contCols)
    assert(scored.count() == wide.count())
    assert(scored.select("embedding").head().getSeq[Float](0).size == 8)
  }

  test("LSTM trainer: distributed loss decreases and trained scoring works") {
    val wide = SparkEntry.queries("q_pipeline_e2e")(spark, sf)
    val catCols = Seq((1 to 5).map(t => s"event_type_$t"))
    val contCols = Seq("value", "ts_days").map(c => (1 to 5).map(t => s"${c}_$t"))
    val cfg = graft.nn.LstmAeConfig(hidden = 8, outDim = 8, attnDim = 4,
      seqLen = 5, vocabSizes = Seq(6), nCont = 2)
    val res = graft.train.LstmTrainer.fit(wide, cfg, catCols, contCols,
      TrainConfig(lr = 1e-2, maxEpochs = 5, warmupEpochs = 1))
    assert(res.losses.last < res.losses.head, s"losses: ${res.losses}")
    val scored = graft.train.LstmTrainer.transform(wide, res, "user_id", catCols, contCols)
    assert(scored.count() == wide.count())
    assert(scored.select("embedding").head().getSeq[Float](0).size == 8)
  }

  test("I12 2-layer bidirectional LSTM trains distributed") {
    val wide = SparkEntry.queries("q_pipeline_e2e")(spark, sf)
    val catCols = Seq((1 to 5).map(t => s"event_type_$t"))
    val contCols = Seq("value", "ts_days").map(c => (1 to 5).map(t => s"${c}_$t"))
    val cfg = graft.nn.LstmAeConfig(hidden = 8, outDim = 8, attnDim = 4,
      seqLen = 5, vocabSizes = Seq(6), nCont = 2,
      numLayers = 2, bidirectional = true, dropout = 0.1)
    val res = graft.train.LstmTrainer.fit(wide, cfg, catCols, contCols,
      TrainConfig(lr = 1e-2, maxEpochs = 4, warmupEpochs = 1))
    assert(res.losses.last < res.losses.head, s"losses: ${res.losses}")
    val scored = graft.train.LstmTrainer.transform(wide, res, "user_id", catCols, contCols)
    assert(scored.count() == wide.count())
    assert(scored.select("embedding").head().getSeq[Float](0).size == 8)
  }

  test("I11 LSTM non-seq fuse branch trains distributed (ns MLP + embeddings)") {
    import org.apache.spark.sql.functions._
    val wide = SparkEntry.queries("q_pipeline_e2e")(spark, sf)
      .withColumn("acct_n", col("c_acctbal") / lit(10000.0))
    val catCols = Seq((1 to 5).map(t => s"event_type_$t"))
    val contCols = Seq("value", "ts_days").map(c => (1 to 5).map(t => s"${c}_$t"))
    val cfg = graft.nn.LstmAeConfig(hidden = 8, outDim = 8, attnDim = 4,
      seqLen = 5, vocabSizes = Seq(6), nCont = 2,
      nonSeqVocabSizes = Seq(2), nNonSeqCont = 1) // churn as the ns cat
    val res = graft.train.LstmTrainer.fit(wide, cfg, catCols, contCols,
      TrainConfig(lr = 1e-2, maxEpochs = 4, warmupEpochs = 1),
      nonSeqCatCols = Seq("churn"), nonSeqContCols = Seq("acct_n"))
    assert(res.losses.last < res.losses.head, s"losses: ${res.losses}")
    // ns params actually moved (the round-7 gap: silently-untrained fuse)
    val lay = cfg.layout
    val init = cfg.initParams()
    val (nsOff, _) = lay.offsets("ns_w")
    val nsSpec = lay.specs.find(_.name == "ns_w").get
    assert((0 until nsSpec.size).exists(i =>
      math.abs(res.params(nsOff + i) - init(nsOff + i)) > 1e-9),
      "ns MLP weights did not train")
    val scored = graft.train.LstmTrainer.transform(wide, res, "user_id",
      catCols, contCols, Seq("churn"), Seq("acct_n"))
    assert(scored.count() == wide.count())
    assert(scored.select("embedding").head().getSeq[Float](0).size == 8)
  }

  test("I16 churn fine-tune trains distributed: BCE loss decreases, probs vary") {
    val wide = SparkEntry.queries("q_pipeline_e2e")(spark, sf)
    val catCols = Seq((1 to 5).map(t => s"event_type_$t"))
    val contCols = Seq("value", "ts_days").map(c => (1 to 5).map(t => s"${c}_$t"))
    val cfg = graft.nn.LstmAeConfig(hidden = 8, outDim = 8, attnDim = 0,
      seqLen = 5, vocabSizes = Seq(6), nCont = 2, decoder = "churn")
    val res = graft.train.LstmTrainer.fit(wide, cfg, catCols, contCols,
      TrainConfig(lr = 2e-2, maxEpochs = 4, warmupEpochs = 1),
      labelCol = Some("churn"))
    assert(res.losses.last < res.losses.head, s"losses: ${res.losses}")
    val scored = graft.train.LstmTrainer.transformChurn(wide, res, "user_id",
      catCols, contCols)
    val probs = scored.select("churn_prob").collect().map(_.getDouble(0))
    assert(probs.length == wide.count())
    assert(probs.forall(p => p > 0.0 && p < 1.0))
    assert(probs.distinct.length > 1, "churn head must discriminate")
    // labelCol is rejected outside churn mode, and required inside it
    intercept[IllegalArgumentException] {
      graft.train.LstmTrainer.fit(wide, cfg.copy(decoder = "none"),
        catCols, contCols, TrainConfig(lr = 1e-2, maxEpochs = 1),
        labelCol = Some("churn"))
    }
    intercept[IllegalArgumentException] {
      graft.train.LstmTrainer.fit(wide, cfg, catCols, contCols,
        TrainConfig(lr = 1e-2, maxEpochs = 1))
    }
  }

  test("I16 transformer churn fine-tune trains distributed (TransformerChurnModel twin)") {
    val wide = SparkEntry.queries("q_pipeline_e2e")(spark, sf)
    val catCols = Seq((1 to 5).map(t => s"event_type_$t"))
    val contCols = Seq("value", "ts_days").map(c => (1 to 5).map(t => s"${c}_$t"))
    val cfg = AeConfig(dModel = 8, heads = 2, layers = 1, pf = 8,
      seqLen = 5, vocabSizes = Seq(6), nCont = 2, churn = true)
    val res = TransformerTrainer.fit(wide, cfg, catCols, contCols,
      TrainConfig(lr = 2e-2, maxEpochs = 4, warmupEpochs = 1),
      labelCol = Some("churn"))
    assert(res.losses.last < res.losses.head, s"losses: ${res.losses}")
    val scored = TransformerTrainer.transformChurn(wide, res, "user_id",
      catCols, contCols)
    val probs = scored.select("churn_prob").collect().map(_.getDouble(0))
    assert(probs.length == wide.count())
    assert(probs.forall(p => p > 0.0 && p < 1.0))
    assert(probs.distinct.length > 1, "churn head must discriminate")
    intercept[IllegalArgumentException] { // labelCol gated on churn mode
      TransformerTrainer.fit(wide, cfg.copy(churn = false), catCols, contCols,
        TrainConfig(lr = 1e-2, maxEpochs = 1), labelCol = Some("churn"))
    }
  }

  test("dropout=0.1 distributed training still reduces the monitored loss") {
    val wide = SparkEntry.queries("q_pipeline_e2e")(spark, sf)
    val catCols = Seq((1 to 5).map(t => s"event_type_$t"))
    val contCols = Seq("value", "ts_days").map(c => (1 to 5).map(t => s"${c}_$t"))
    val cfg = AeConfig(dModel = 8, heads = 2, layers = 1, pf = 8,
      seqLen = 5, vocabSizes = Seq(6), nCont = 2, dropout = 0.1)
    val res = TransformerTrainer.fit(wide, cfg, catCols, contCols,
      TrainConfig(lr = 1e-2, maxEpochs = 4, warmupEpochs = 1))
    assert(res.losses.last < res.losses.head, s"losses: ${res.losses}")
  }

  test("EpochLoop multi-step epochs read each example once per epoch") {
    // the source RDD is deliberately UNcached and counts every element read:
    // with per-step randomSplit selection scans an epoch would cost
    // O(nSteps x corpus) reads; the shuffle-sliced loop must stay O(corpus)
    val sc = spark.sparkContext
    val n = 2000
    val reads = sc.longAccumulator("sourceReads")
    val data = sc.parallelize(1 to n, 8).map { x => reads.add(1); x.toDouble }
    val params = Array(0.0)
    val res = graft.train.EpochLoop.run[Double](data, params,
      TrainConfig(lr = 1e-2, maxEpochs = 1), batchSize = 400, // -> 5 steps
      examplesPerEpoch = None,
      (p, a, x) => { val e = p(0) - x; a(0) += e; 0.5 * e * e })
    assert(res.losses.size == 1 && res.losses.head.isFinite)
    // count() pass + one epoch map-side pass = 2n; randomSplit would be 6n
    assert(reads.value <= 3L * n,
      s"epoch read amplification: ${reads.value} reads for $n examples")
  }

  test("weighted AE training: weight w equals the example repeated w times; w=1 is a no-op") {
    import spark.implicits._
    import graft.train.LinearAutoencoder
    val base = Seq(
      (1.0, 2.0), (2.0, 1.0), (3.0, 3.0), (0.5, 1.5), (2.5, 0.5), (1.5, 2.5))
    // row 0 carries weight 3; the duplicated twin corpus repeats it 3 times
    val weightedDf = base.zipWithIndex.map { case ((a, b), i) =>
      (a, b, if (i == 0) 3.0 else 1.0) }.toDF("a", "b", "w")
    val dupDf = (Seq.fill(2)(base.head) ++ base).toDF("a", "b")
    val cfg = TrainConfig(nHidden = 2, lr = 1e-2, maxEpochs = 4, warmupEpochs = 1)
    // full-batch (one step per epoch) so step slicing can't diverge the runs
    val rw = LinearAutoencoder.fit(weightedDf, Seq("a", "b"), cfg,
      batchSize = 0, weightCol = Some("w"))
    val rd = LinearAutoencoder.fit(dupDf, Seq("a", "b"), cfg, batchSize = 0)
    assert(rw.losses.size == rd.losses.size)
    rw.losses.zip(rd.losses).foreach { case (lw, ld) =>
      assert(math.abs(lw - ld) < 1e-9, s"weighted $lw != duplicated $ld") }
    rw.weights.params.zip(rd.weights.params).foreach { case (pw, pd) =>
      assert(math.abs(pw - pd) < 1e-9) }
    // all-ones weight column reproduces the unweighted run (same arithmetic;
    // tolerance absorbs aggregate combine-order ulps, as above)
    val ones = weightedDf.withColumn("w", org.apache.spark.sql.functions.lit(1.0))
    val r1 = LinearAutoencoder.fit(ones, Seq("a", "b"), cfg,
      batchSize = 0, weightCol = Some("w"))
    val r0 = LinearAutoencoder.fit(weightedDf, Seq("a", "b"), cfg, batchSize = 0)
    r1.losses.zip(r0.losses).foreach { case (l1, l0) =>
      assert(math.abs(l1 - l0) < 1e-9, s"all-ones $l1 != unweighted $l0") }
    r1.weights.params.zip(r0.weights.params).foreach { case (p1, p0) =>
      assert(math.abs(p1 - p0) < 1e-9) }
  }

  test("EpochLoop batchSize <= 0 runs one full-batch step per epoch") {
    val sc = spark.sparkContext
    val data = sc.parallelize(Seq.fill(64)(1.0), 4)
    val params = Array(0.0)
    val res = graft.train.EpochLoop.run[Double](data, params,
      TrainConfig(lr = 1e-1, maxEpochs = 3), batchSize = 0,
      examplesPerEpoch = None,
      (p, a, x) => { val e = p(0) - x; a(0) += e; 0.5 * e * e })
    assert(res.losses.size == 3)
    assert(res.losses.last < res.losses.head) // full-batch steps still learn
  }

  test("EpochLoop multi-step epochs equal a driver replay of the step draws and Adam") {
    val sc = spark.sparkContext
    val xs = (0 until 600).map(i => 1.0 + math.sin(i.toDouble))
    val data = sc.parallelize(xs, 3)
    val cfg = TrainConfig(lr = 5e-2, maxEpochs = 3, warmupEpochs = 1, patience = 10)
    val nSteps = 6 // 600 examples / batch 100; k = min(4, 100 / 8) tasks per step
    val lg = (p: Array[Double], a: Array[Double], x: Double) => {
      val e = p(0) - x; a(0) += e; 0.5 * e * e
    }
    val params = Array(0.25)
    val res = EpochLoop.run[Double](data, params, cfg, batchSize = 100,
      examplesPerEpoch = None, lg)

    // replay: one Random(epochSeed + partition) per map partition draws each
    // example's step in partition order; one Adam step per non-empty slice
    val parts = data.glom().collect()
    val p = Array(0.25)
    val adam = new Adam(1)
    val sched = new LrSchedule(cfg.lr, cfg.warmupEpochs)
    val stopper = new EarlyStopping(cfg.patience, cfg.delta)
    val losses = ArrayBuffer[Double]()
    for (epoch <- 0 until cfg.maxEpochs) {
      val es = EpochLoop.epochSeed(cfg.seed, epoch)
      val slices = Array.fill(nSteps)(ArrayBuffer[Double]())
      parts.zipWithIndex.foreach { case (part, pi) =>
        val rng = new java.util.Random(es + pi)
        part.foreach(x => slices(rng.nextInt(nSteps)) += x)
      }
      var lossSum = 0.0
      var cnt = 0.0
      slices.filter(_.nonEmpty).foreach { sl =>
        val a = Array(0.0)
        sl.foreach(x => lossSum += lg(p, a, x))
        adam.step(p, Array(a(0) / sl.size), sched.lr(epoch))
        cnt += sl.size
      }
      val mean = lossSum / cnt
      sched.observe(mean)
      losses += mean
      assert(!stopper.observe(epoch, mean))
    }
    assert(res.losses.size == losses.size)
    res.losses.zip(losses).foreach { case (got, want) =>
      assert(math.abs(got - want) < 1e-12, s"loss $got != replay $want") }
    assert(math.abs(params(0) - p(0)) < 1e-12, s"param ${params(0)} != replay ${p(0)}")
  }

  test("EpochLoop step jobs launch min(defaultParallelism, slice / 8) tasks") {
    val sc = spark.sparkContext
    val tag = "graft.test.epochloop"
    val resultTasks = ArrayBuffer[Int]() // per tagged job: tasks of its result stage
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (js.properties != null && js.properties.getProperty(tag) != null)
          resultTasks.synchronized { resultTasks += js.stageInfos.maxBy(_.stageId).numTasks }
    }
    sc.addSparkListener(listener)
    try {
      // (examples, batch size): slices of 400 fill every core, slices of 16
      // get 16 / 8 = 2 tasks
      for ((n, batch) <- Seq((2000, 400), (64, 16))) {
        val nSteps = n / batch
        val want = math.min(sc.defaultParallelism, batch / 8)
        resultTasks.synchronized(resultTasks.clear())
        sc.setLocalProperty(tag, s"$n/$batch")
        try EpochLoop.run[Double](sc.parallelize(Seq.tabulate(n)(_.toDouble), 8),
          Array(0.0), TrainConfig(lr = 1e-2, maxEpochs = 1), batchSize = batch,
          examplesPerEpoch = None,
          (p, a, x) => { val e = p(0) - x; a(0) += e; 0.5 * e * e })
        finally sc.setLocalProperty(tag, null)
        // count() first, then one job per step
        val deadline = System.currentTimeMillis() + 10000
        while (resultTasks.synchronized(resultTasks.size) < 1 + nSteps &&
            System.currentTimeMillis() < deadline) Thread.sleep(20)
        val steps = resultTasks.synchronized(resultTasks.toList).drop(1)
        assert(steps == List.fill(nSteps)(want), s"n=$n batch=$batch: step tasks $steps")
      }
    } finally sc.removeSparkListener(listener)
  }

  test("EpochLoop hands lossGrad the documented per-example seed on both paths") {
    val sc = spark.sparkContext
    val data = sc.parallelize(Seq.tabulate(300)(_.toDouble), 3)
    val parts = data.glom().collect()
    val cfg = TrainConfig(lr = 1e-2, maxEpochs = 2, patience = 5, seed = 7L)
    for (batch <- Seq(50, 0)) { // six steps per epoch; one full-batch step
      val seen = sc.collectionAccumulator[(Double, Long)]("seeds")
      EpochLoop.runSeeded[Double](data, Array(0.0), cfg, batchSize = batch,
        examplesPerEpoch = None,
        (p, a, x, seed) => { seen.add((x, seed)); val e = p(0) - x; a(0) += e; 0.5 * e * e })
      val want = for {
        epoch <- 0 until cfg.maxEpochs
        (part, pi) <- parts.zipWithIndex.toSeq
        (x, i) <- part.zipWithIndex.toSeq
      } yield (x, EpochLoop.exampleSeed(EpochLoop.epochSeed(cfg.seed, epoch), pi, i))
      import scala.jdk.CollectionConverters._
      assert(seen.value.asScala.toSeq.sorted == want.sorted, s"batch $batch")
    }
  }

  test("a fit whose loss throws leaves no cached RDD behind") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    // examplesPerEpoch below the corpus size makes EpochLoop cache a probe
    intercept[Exception] {
      EpochLoop.run[Double](sc.parallelize(Seq.tabulate(200)(_.toDouble), 4),
        Array(0.0), TrainConfig(maxEpochs = 1), batchSize = 50,
        examplesPerEpoch = Some(100),
        (_, _, _) => throw new IllegalStateException("loss failed"))
    }
    assert(sc.getPersistentRDDs.keySet == before, "EpochLoop's probe leaked")
    // the trainers cache their examples: three cont features declared, two
    // given, so the first lossGrad indexes past the example's arrays
    val wide = SparkEntry.queries("q_pipeline_e2e")(spark, sf)
    val catCols = Seq((1 to 5).map(t => s"event_type_$t"))
    val contCols = Seq("value", "ts_days").map(c => (1 to 5).map(t => s"${c}_$t"))
    val before2 = sc.getPersistentRDDs.keySet
    intercept[Exception] {
      TransformerTrainer.fit(wide, AeConfig(dModel = 8, heads = 2, layers = 1, pf = 8,
        seqLen = 5, vocabSizes = Seq(6), nCont = 3), catCols, contCols,
        TrainConfig(lr = 1e-2, maxEpochs = 1))
    }
    intercept[Exception] {
      graft.train.LstmTrainer.fit(wide, graft.nn.LstmAeConfig(hidden = 8, outDim = 8,
        attnDim = 4, seqLen = 5, vocabSizes = Seq(6), nCont = 3), catCols, contCols,
        TrainConfig(lr = 1e-2, maxEpochs = 1))
    }
    assert(sc.getPersistentRDDs.keySet == before2, "a trainer's examples leaked")
  }
}
