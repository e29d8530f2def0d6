package graft.nn

import breeze.linalg.{*, DenseMatrix, DenseVector, max, sum}
import breeze.numerics.exp

// Dense building blocks shared by the LSTM serving weights (Lstm.scala)
// and the flat-param autodiff models (Autodiff.scala, LstmAutodiff.scala).

object Dims {
  /** Embedding dim rule from factory.py:63-64. */
  def embeddingDim(vocab: Long): Int = math.min(25, ((vocab + 1) / 2).toInt)
}

final case class Linear(w: DenseMatrix[Double], b: DenseVector[Double]) {
  /** x: (T, in) -> (T, out) */
  def apply(x: DenseMatrix[Double]): DenseMatrix[Double] = {
    val out = x * w
    out(*, ::) :+= b
    out
  }
}

object Layers {

  def xavier(rng: scala.util.Random, rows: Int, cols: Int): DenseMatrix[Double] = {
    val limit = math.sqrt(6.0 / (rows + cols))
    DenseMatrix.fill(rows, cols)((rng.nextDouble() * 2 - 1) * limit)
  }

  def linear(rng: scala.util.Random, in: Int, out: Int): Linear =
    Linear(xavier(rng, in, out), DenseVector.zeros[Double](out))

  /** Row-wise softmax. */
  def softmaxRows(m: DenseMatrix[Double]): DenseMatrix[Double] = {
    val out = m.copy
    for (i <- 0 until m.rows) {
      val row = out(i, ::).t
      val mx = max(row)
      val e = exp(row - mx)
      out(i, ::) := (e / sum(e)).t
    }
    out
  }

  /** Row-wise LayerNorm with learned gain/bias. */
  def layerNorm(x: DenseMatrix[Double], g: DenseVector[Double],
      b: DenseVector[Double], eps: Double = 1e-5): DenseMatrix[Double] = {
    val out = DenseMatrix.zeros[Double](x.rows, x.cols)
    for (i <- 0 until x.rows) {
      val row = x(i, ::).t
      val mu = sum(row) / row.length
      val centered = row - mu
      val sd = math.sqrt(sum(centered *:* centered) / row.length + eps)
      out(i, ::) := (((centered / sd) *:* g) + b).t
    }
    out
  }
}
