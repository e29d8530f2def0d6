package graft.train

/**
 * Driver-side optimizer state (SURVEY.md §2.J): Adam, linear warmup,
 * reduce-on-plateau, early stopping — the reference's scheduler stack
 * (train.py:120-130,133-193; early_stopping.py:11-102) as plain Scala.
 * Weights live on the driver; executors only ever see serialized copies.
 */
final class Adam(n: Int, beta1: Double = 0.9, beta2: Double = 0.999, eps: Double = 1e-8,
    frozen: Seq[(Int, Int)] = Nil) {
  private val m = new Array[Double](n)
  private val v = new Array[Double](n)
  private var t = 0
  // frozen (offset, length) slices — pretrained embeddings with
  // freeze_pretrained (embedding_layer.py:18-39): requires_grad=False in
  // the reference means the optimizer never touches the slice, expressed
  // here as a skip mask (no moment accumulation, no parameter update)
  private val mask: Array[Boolean] =
    if (frozen.isEmpty) null
    else {
      val a = new Array[Boolean](n)
      frozen.foreach { case (off, len) =>
        require(off >= 0 && len >= 0 && off + len <= n,
          s"frozen range ($off, $len) out of [0, $n)")
        java.util.Arrays.fill(a, off, off + len, true)
      }
      a
    }

  def step(params: Array[Double], grad: Array[Double], lr: Double): Unit = {
    t += 1
    val bc1 = 1 - math.pow(beta1, t)
    val bc2 = 1 - math.pow(beta2, t)
    var i = 0
    while (i < n) {
      if (mask == null || !mask(i)) {
        m(i) = beta1 * m(i) + (1 - beta1) * grad(i)
        v(i) = beta2 * v(i) + (1 - beta2) * grad(i) * grad(i)
        params(i) -= lr * (m(i) / bc1) / (math.sqrt(v(i) / bc2) + eps)
      }
      i += 1
    }
  }
}

/** Linear warmup for `warmupEpochs`, then reduce-on-plateau. */
final class LrSchedule(base: Double, warmupEpochs: Int,
    plateauPatience: Int = 3, factor: Double = 0.5, minLr: Double = 1e-6) {
  private var plateauScale = 1.0
  private var best = Double.MaxValue
  private var bad = 0

  def lr(epoch: Int): Double = {
    val warm = if (warmupEpochs <= 0) 1.0 else math.min(1.0, (epoch + 1).toDouble / warmupEpochs)
    math.max(minLr, base * warm * plateauScale)
  }

  def observe(loss: Double): Unit = {
    if (loss < best - 1e-12) { best = loss; bad = 0 }
    else { bad += 1; if (bad >= plateauPatience) { plateauScale *= factor; bad = 0 } }
  }
}

/** Patience/delta early stopping on the monitored score (lower = better). */
final class EarlyStopping(patience: Int = 8, delta: Double = 1e-5) {
  private var best = Double.MaxValue
  private var bad = 0
  var bestEpoch: Int = -1

  /** Returns true when training should stop. */
  def observe(epoch: Int, score: Double): Boolean = {
    if (score < best - delta) { best = score; bad = 0; bestEpoch = epoch }
    else bad += 1
    bad >= patience
  }
}
