package graft.train

import scala.reflect.ClassTag

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.storage.StorageLevel

/**
 * Distributed epoch loop shared by every trainer (LinearAutoencoder,
 * TransformerTrainer, LstmTrainer): executors accumulate per-partition
 * (gradientSum ++ lossSum ++ count) at the driver's weights -> the driver
 * sums the partials and applies Adam + warmup/plateau schedule + early
 * stopping. This replaces the reference's Horovod-allreduce/Petastorm
 * machinery (spark/large/train.py) with Spark primitives: weights in the
 * task = param sync, the driver's partial sum = allreduce, driver = rank 0.
 *
 * Epoch semantics follow the reference (run_epoch, utils/train.py:133-193;
 * 32k-row batch steps, spark/large/train.py:35): one epoch = ceil(n /
 * batchSize) optimizer steps, each on a disjoint random ~batchSize slice,
 * together covering the whole epoch sample. By default the epoch sample IS
 * the corpus — full reference parity. `examplesPerEpoch` caps how many
 * examples an epoch touches (smoke-test / bench budgets); that is LESS
 * optimization than a full reference epoch and callers opting in accept
 * the difference. `batchSize <= 0` means one full-batch step per epoch.
 *
 * Step slicing costs ONE pass per epoch. Map-side, each example draws its
 * step with `rng.nextInt(nSteps)` (one generator per map partition, seeded
 * from the epoch seed) and is shuffled into nSteps x k partitions: step s
 * owns partitions [s·k, (s+1)·k), and a per-map-task counter per step deals
 * that step's examples round-robin over its k partitions (no extra draw, so
 * k never changes which examples a step trains on). The shuffle map stage
 * runs once and is reused by every step's job (Spark skips completed map
 * stages). The per-epoch cost is O(corpus + shuffle(corpus)), NOT the
 * O(nSteps x corpus) that per-step `randomSplit` selection scans would pay
 * — the same each-shard-read-once behavior as the reference's Petastorm
 * sharding (spark/large/train.py:152-157). Slice sizes are
 * Binomial(n, 1/nSteps) ~ batchSize, like randomSplit's.
 *
 * One optimizer step is ONE `runJob` over the step's k partitions — every
 * core works on the step's batch, as every Horovod worker does in the
 * reference. The weights travel in the task closure; each task returns its
 * partial (grad ++ loss ++ weight) array, and the driver adds the k
 * partials in partition order, so a fit reproduces bit-for-bit from run to
 * run. k = min(defaultParallelism, expected slice / [[MinExamplesPerTask]])
 * bounds the driver's fan-in to defaultParallelism arrays per step — the
 * final fold `treeAggregate` would run at this partition count. The
 * one-step epoch (nSteps == 1, including `batchSize <= 0`) treeAggregates
 * the epoch sample in its own partitioning instead, whose partition count
 * has no bound.
 *
 * Per-example seeds (dropout masks): the i-th example of map partition pi
 * in epoch e gets `exampleSeed(epochSeed(train.seed, e), pi, i)`, derived
 * map-side and handed to `lossGrad` on both paths — independent of k and
 * of how tasks split a step, so results never depend on defaultParallelism.
 *
 * Monitored (early-stop / plateau / reported) loss: with full coverage it
 * is the epoch's mean training loss, exactly what the reference monitors.
 * With a subsampled epoch that mean is computed on a different random
 * subset each epoch, so patience would fire (or miss) on sampling noise —
 * instead the loss is evaluated on a FIXED PROBE sample (seeded once,
 * ~half a batch, forward-only via `lossOnly`). The probe is drawn from the
 * same pool the epoch samples train on, so it is a like-with-like epoch
 * comparator, NOT a generalization holdout (examples are arbitrary user
 * types — array fields make equality-based exclusion ill-defined, and the
 * reference monitors training loss anyway). An empty slice (possible at
 * tiny fractions) contributes no optimizer step rather than a spurious
 * loss-0 "best epoch".
 */
object EpochLoop {

  final case class RunResult(losses: Seq[Double], stoppedAt: Int)

  // Fewest expected examples per step task. Measured with step jobs over
  // a keyed shuffle on local[4] (4 shared cores) at the train_ae
  // lossAndGrad shape (dModel 8, 1 encoder + 1 decoder layer, T 10;
  // ~0.15-0.3 ms per example), median step ms at k = 1 / 2 / 4 tasks:
  // slice 16: 15.2 / 13.7 / 14.8; slice 32: 17.7 / 14.7 / 14.7;
  // slice 128: 38.0 / 26.5 / 22.2. Tasks of 4 examples lost to tasks of 8;
  // from 8 per task up, more tasks won or tied.
  private val MinExamplesPerTask = 8

  /** The seed of epoch `epoch`'s step draws and example seeds. */
  private[graft] def epochSeed(seed: Long, epoch: Int): Long =
    seed ^ ((epoch + 1) * 0x9E3779B97F4A7C15L)

  /** The seed `lossGrad` gets for the `index`-th example of map partition
    * `partition` (SplitMix64's finalizer over the three). */
  private[graft] def exampleSeed(epochSeed: Long, partition: Int, index: Long): Long = {
    var z = epochSeed + partition * 0xBF58476D1CE4E5B9L + index * 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Tasks per optimizer step: every core, but no fewer than
    * [[MinExamplesPerTask]] expected examples per task. */
  private def tasksPerStep(parallelism: Int, expectedSlice: Double): Int =
    math.max(1, math.min(parallelism, (expectedSlice / MinExamplesPerTask).toInt))

  /** Pairs each example with its seed: partition `pi`, position `i`. */
  private def withSeeds[E](rdd: RDD[E], es: Long): RDD[(Long, E)] =
    rdd.mapPartitionsWithIndex { (pi, it) =>
      var i = -1L
      it.map { e => i += 1; (exampleSeed(es, pi, i), e) }
    }

  /** [[runSeeded]] for a loss that uses no per-example seed. */
  def run[E: ClassTag](data: RDD[E], params: Array[Double], train: TrainConfig,
      batchSize: Int, examplesPerEpoch: Option[Int],
      lossGrad: (Array[Double], Array[Double], E) => Double,
      lossOnly: Option[(Array[Double], E) => Double] = None,
      frozenRanges: Seq[(Int, Int)] = Nil,
      weight: Option[E => Double] = None): RunResult =
    runSeeded(data, params, train, batchSize, examplesPerEpoch,
      (p: Array[Double], a: Array[Double], e: E, _: Long) => lossGrad(p, a, e),
      lossOnly, frozenRanges, weight)

  /**
   * Runs the loop, updating `params` IN PLACE.
   *
   * @param data     cached example RDD (callers persist + unpersist)
   * @param lossGrad (params, acc, example, seed) => loss; must ACCUMULATE
   *                 dLoss/dParam into acc[0, params.length) and return the
   *                 example's loss. `seed` is the example's per-epoch seed
   *                 (see the class doc) for any randomness such as dropout.
   *                 Must be serializable.
   * @param lossOnly forward-only loss evaluation used for the monitoring
   *                 probe (no gradient work); defaults to `lossGrad` with a
   *                 discarded scratch accumulator when absent.
   */
  def runSeeded[E: ClassTag](data: RDD[E], params: Array[Double], train: TrainConfig,
      batchSize: Int, examplesPerEpoch: Option[Int],
      lossGrad: (Array[Double], Array[Double], E, Long) => Double,
      lossOnly: Option[(Array[Double], E) => Double] = None,
      frozenRanges: Seq[(Int, Int)] = Nil,
      weight: Option[E => Double] = None): RunResult = {
    val sc = data.context
    val n = params.length
    val total = data.count()
    val frac = examplesPerEpoch match {
      case Some(k) if k > 0 && k < total => k.toDouble / total
      case _ => 1.0
    }

    // Per-example weight (soft-dedup downweighting): the accumulator's
    // count slot holds the WEIGHT SUM, so the mean gradient and monitored
    // mean loss divide by total weight — an example with weight w is
    // numerically the example repeated w times (the lossGrad closure is
    // responsible for scaling its own loss/grad contributions by w).
    val weightOf: E => Double = weight.getOrElse((_: E) => 1.0)

    def sweep(rdd: RDD[(Long, E)], p: Array[Double]): Array[Double] = {
      val bc = sc.broadcast(p)
      val acc = rdd.treeAggregate(new Array[Double](n + 2))(
        seqOp = (a, se) => {
          val l = lossGrad(bc.value, a, se._2, se._1); a(n) += l; a(n + 1) += weightOf(se._2); a
        },
        combOp = (a, b) => {
          var i = 0; while (i < a.length) { a(i) += b(i); i += 1 }; a
        })
      bc.destroy()
      acc
    }

    /** Forward-only mean-loss evaluation: (lossSum, count). */
    def evalLoss(rdd: RDD[E], p: Array[Double], es: Long): (Double, Double) =
      lossOnly match {
        case Some(f) =>
          val bc = sc.broadcast(p)
          val (ls, cnt) = rdd.treeAggregate((0.0, 0.0))(
            seqOp = (a, ex) => (a._1 + f(bc.value, ex), a._2 + weightOf(ex)),
            combOp = (a, b) => (a._1 + b._1, a._2 + b._2))
          bc.destroy()
          (ls, cnt)
        case None =>
          val acc = sweep(withSeeds(rdd, es), p) // gradients discarded
          (acc(n), acc(n + 1))
      }

    val probe =
      if (frac >= 1.0) None
      else {
        val want = math.max(64.0, math.min(
          (if (batchSize > 0) batchSize else 1024) / 2.0, 512.0))
        Some(data.sample(withReplacement = false,
            math.min(1.0, want / total), train.seed - 1)
          .persist(StorageLevel.MEMORY_AND_DISK))
      }

    try {
      val adam = new Adam(n, frozen = frozenRanges)
      val sched = new LrSchedule(train.lr, train.warmupEpochs)
      val stopper = new EarlyStopping(train.patience, train.delta)
      val losses = scala.collection.mutable.ArrayBuffer[Double]()
      var epoch = 0
      var stopped = false
      while (epoch < train.maxEpochs && !stopped) {
        val epochData =
          if (frac >= 1.0) data
          else data.sample(withReplacement = false, frac, train.seed + epoch)
        val nSteps =
          if (batchSize <= 0) 1 // explicit full-batch mode (and no div-by-0)
          else math.max(1, math.ceil(frac * total / batchSize).toInt)
        val es = epochSeed(train.seed, epoch)
        var lossSum = 0.0
        var cntSum = 0.0

        def step(acc: Array[Double]): Unit = {
          val cnt = acc(n + 1)
          if (cnt > 0) { // empty-slice guard: skip the step, record no loss
            val grad = Array.tabulate(n)(i => acc(i) / cnt)
            adam.step(params, grad, sched.lr(epoch))
            lossSum += acc(n); cntSum += cnt
          }
        }

        if (nSteps == 1) step(sweep(withSeeds(epochData, es), params))
        else {
          val k = tasksPerStep(sc.defaultParallelism, frac * total / nSteps)
          val keyed = withSeeds(epochData, es)
            .mapPartitionsWithIndex { (pi, it) =>
              val rng = new java.util.Random(es + pi)
              val next = Array.fill(nSteps)(pi % k) // per-step round-robin
              it.map { se =>
                val s = rng.nextInt(nSteps)
                val sub = next(s)
                next(s) = if (sub + 1 == k) 0 else sub + 1
                (s * k + sub, se)
              }
            }
            // a key in [0, nSteps·k) is its own HashPartitioner partition
            .partitionBy(new HashPartitioner(nSteps * k))
          for (s <- 0 until nSteps) {
            val p = params // serialized with the task at submission
            val parts = sc.runJob(keyed, (it: Iterator[(Int, (Long, E))]) => {
              val a = new Array[Double](n + 2)
              it.foreach { case (_, (seed, ex)) =>
                val l = lossGrad(p, a, ex, seed); a(n) += l; a(n + 1) += weightOf(ex)
              }
              a
            }, s * k until (s + 1) * k)
            val acc = parts(0)
            var j = 1
            while (j < k) {
              val b = parts(j)
              var i = 0; while (i < acc.length) { acc(i) += b(i); i += 1 }
              j += 1
            }
            step(acc)
          }
        }

        val trainLoss = if (cntSum > 0) lossSum / cntSum else Double.PositiveInfinity
        val monitored = probe match {
          case Some(h) =>
            val (ls, cnt) = evalLoss(h, params, es)
            if (cnt > 0) ls / cnt else trainLoss
          case None => trainLoss
        }
        sched.observe(monitored)
        losses += monitored
        stopped = stopper.observe(epoch, monitored)
        epoch += 1
      }
      RunResult(losses.toSeq, epoch)
    } finally probe.foreach(_.unpersist(blocking = false))
  }
}
