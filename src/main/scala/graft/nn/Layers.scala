package graft.nn

import breeze.linalg.{*, DenseMatrix, DenseVector, sum}

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

/**
 * Layers plus the row kernels of the transformer forward and backward
 * (bias add, bias-gradient column sums, ReLU, softmax, LayerNorm). The
 * kernels are primitive loops over any Breeze view — column slice, row
 * range, transpose — and skip Breeze's generic dispatch, boxing and
 * per-row view allocation. Each keeps the arithmetic order of the Breeze
 * formulation it stands for (named in its doc), so results are
 * bit-identical to it.
 */
object Layers {

  def xavier(rng: scala.util.Random, rows: Int, cols: Int): DenseMatrix[Double] = {
    val limit = math.sqrt(6.0 / (rows + cols))
    DenseMatrix.fill(rows, cols)((rng.nextDouble() * 2 - 1) * limit)
  }

  def linear(rng: scala.util.Random, in: Int, out: Int): Linear =
    Linear(xavier(rng, in, out), DenseVector.zeros[Double](out))

  // element (i, j) of a view lives at offset + i * rowStep + j * colStep
  private def rowStep(m: DenseMatrix[Double]): Int = if (m.isTranspose) m.majorStride else 1
  private def colStep(m: DenseMatrix[Double]): Int = if (m.isTranspose) 1 else m.majorStride

  /** `m(*, ::) :+= b`: adds `b(j)` to column j of every row, in place. */
  def addBias(m: DenseMatrix[Double], b: DenseVector[Double]): Unit = {
    require(b.length == m.cols, s"bias length ${b.length} != ${m.cols} columns")
    val md = m.data; val rs = rowStep(m); val cs = colStep(m)
    val bd = b.data; val bs = b.stride
    var j = 0
    while (j < m.cols) {
      val bj = bd(b.offset + j * bs)
      var idx = m.offset + j * cs
      var i = 0
      while (i < m.rows) { md(idx) += bj; idx += rs; i += 1 }
      j += 1
    }
  }

  /** `for (i <- 0 until d.rows) g :+= d(i, ::).t`: accumulates the column
    * sums of `d` into `g` (a bias gradient), rows in order. */
  def addColSums(g: DenseVector[Double], d: DenseMatrix[Double]): Unit = {
    require(g.length == d.cols, s"gradient length ${g.length} != ${d.cols} columns")
    val dd = d.data; val rs = rowStep(d); val cs = colStep(d)
    val gd = g.data
    var j = 0
    while (j < d.cols) {
      val gi = g.offset + j * g.stride
      var acc = gd(gi)
      var idx = d.offset + j * cs
      var i = 0
      while (i < d.rows) { acc += dd(idx); idx += rs; i += 1 }
      gd(gi) = acc
      j += 1
    }
  }

  /** ReLU forward (transformer.py:158): `m.map(v => if (v > 0) v else 0.0)`. */
  def relu(m: DenseMatrix[Double]): DenseMatrix[Double] = {
    val out = DenseMatrix.zeros[Double](m.rows, m.cols)
    val md = m.data; val rs = rowStep(m); val cs = colStep(m)
    val od = out.data
    var o = 0
    var j = 0
    while (j < m.cols) {
      var idx = m.offset + j * cs
      var i = 0
      while (i < m.rows) {
        val v = md(idx); od(o) = if (v > 0) v else 0.0
        idx += rs; o += 1; i += 1
      }
      j += 1
    }
    out
  }

  /** ReLU backward: `dAct` where `pre > 0`, else 0 (subgradient 0 at 0). */
  def reluBwd(dAct: DenseMatrix[Double], pre: DenseMatrix[Double]): DenseMatrix[Double] = {
    require(pre.rows == dAct.rows && pre.cols == dAct.cols)
    val out = DenseMatrix.zeros[Double](dAct.rows, dAct.cols)
    val dd = dAct.data; val drs = rowStep(dAct); val dcs = colStep(dAct)
    val pd = pre.data; val prs = rowStep(pre); val pcs = colStep(pre)
    val od = out.data
    var o = 0
    var j = 0
    while (j < dAct.cols) {
      var di = dAct.offset + j * dcs
      var pi = pre.offset + j * pcs
      var i = 0
      while (i < dAct.rows) {
        od(o) = if (pd(pi) <= 0) 0.0 else dd(di)
        di += drs; pi += prs; o += 1; i += 1
      }
      j += 1
    }
    out
  }

  /** Row-wise softmax: per row `e = exp(row - max(row)); e / sum(e)`. */
  def softmaxRows(m: DenseMatrix[Double]): DenseMatrix[Double] = {
    val n = m.cols
    val out = DenseMatrix.zeros[Double](m.rows, n)
    val md = m.data; val rs = rowStep(m); val cs = colStep(m)
    val od = out.data; val ors = out.rows
    val e = new Array[Double](n)
    var i = 0
    while (i < m.rows) {
      val base = m.offset + i * rs
      var mx = Double.NegativeInfinity
      var j = 0
      while (j < n) { mx = math.max(mx, md(base + j * cs)); j += 1 }
      var s = 0.0
      j = 0
      while (j < n) { val v = math.exp(md(base + j * cs) - mx); e(j) = v; s += v; j += 1 }
      j = 0
      while (j < n) { od(i + j * ors) = e(j) / s; j += 1 }
      i += 1
    }
    out
  }

  /** Softmax backward, row-wise, divided by `div` (the attention scale):
    * per row `((dA - sum(a *:* dA)) *:* a) / div`. */
  def softmaxBwd(a: DenseMatrix[Double], dA: DenseMatrix[Double], div: Double)
      : DenseMatrix[Double] = {
    require(a.rows == dA.rows && a.cols == dA.cols)
    val n = a.cols
    val out = DenseMatrix.zeros[Double](a.rows, n)
    val ad = a.data; val ars = rowStep(a); val acs = colStep(a)
    val gd = dA.data; val grs = rowStep(dA); val gcs = colStep(dA)
    val od = out.data; val ors = out.rows
    var i = 0
    while (i < a.rows) {
      val ab = a.offset + i * ars; val gb = dA.offset + i * grs
      var dot = 0.0
      var j = 0
      while (j < n) { dot += ad(ab + j * acs) * gd(gb + j * gcs); j += 1 }
      j = 0
      while (j < n) {
        od(i + j * ors) = ((gd(gb + j * gcs) - dot) * ad(ab + j * acs)) / div
        j += 1
      }
      i += 1
    }
    out
  }

  /** Row-wise LayerNorm forward with the caches the backward reads:
    * (out, xhat, 1/sd per row); per row `c = x - mean(x)`,
    * `istd = 1 / sqrt(sum(c *:* c) / n + eps)`, `xhat = c * istd`,
    * `out = xhat *:* g + b`. */
  def layerNormFwd(x: DenseMatrix[Double], g: DenseVector[Double],
      b: DenseVector[Double], eps: Double)
      : (DenseMatrix[Double], DenseMatrix[Double], Array[Double]) = {
    val n = x.cols
    val out = DenseMatrix.zeros[Double](x.rows, n)
    val xhat = DenseMatrix.zeros[Double](x.rows, n)
    val inv = new Array[Double](x.rows)
    val xd = x.data; val rs = rowStep(x); val cs = colStep(x)
    val od = out.data; val hd = xhat.data; val ors = out.rows
    val c = new Array[Double](n)
    var i = 0
    while (i < x.rows) {
      val base = x.offset + i * rs
      var s = 0.0
      var j = 0
      while (j < n) { s += xd(base + j * cs); j += 1 }
      val mu = s / n
      var sq = 0.0
      j = 0
      while (j < n) { val v = xd(base + j * cs) - mu; c(j) = v; sq += v * v; j += 1 }
      val istd = 1.0 / math.sqrt(sq / n + eps)
      inv(i) = istd
      j = 0
      while (j < n) {
        val xh = c(j) * istd
        hd(i + j * ors) = xh
        od(i + j * ors) = xh * g(j) + b(j)
        j += 1
      }
      i += 1
    }
    (out, xhat, inv)
  }

  /** LayerNorm backward: returns dX and accumulates dG, dB. Per row
    * `dG :+= dy *:* xhat; dB :+= dy; dxhat = dy *:* g`,
    * `dX = ((dxhat - xhat * (sum(dxhat *:* xhat) / n)) - sum(dxhat) / n) * inv`. */
  def layerNormBwd(dOut: DenseMatrix[Double], xhat: DenseMatrix[Double],
      inv: Array[Double], g: DenseVector[Double],
      dG: DenseVector[Double], dB: DenseVector[Double]): DenseMatrix[Double] = {
    require(dOut.rows == xhat.rows && dOut.cols == xhat.cols)
    val n = xhat.cols
    val nD = n.toDouble
    val dX = DenseMatrix.zeros[Double](xhat.rows, n)
    val yd = dOut.data; val yrs = rowStep(dOut); val ycs = colStep(dOut)
    val hd = xhat.data; val hrs = rowStep(xhat); val hcs = colStep(xhat)
    val xd = dX.data; val xrs = dX.rows
    val dxhat = new Array[Double](n)
    var i = 0
    while (i < xhat.rows) {
      val yb = dOut.offset + i * yrs; val hb = xhat.offset + i * hrs
      var s1 = 0.0
      var s2 = 0.0
      var j = 0
      while (j < n) {
        val dy = yd(yb + j * ycs); val xh = hd(hb + j * hcs)
        dG(j) += dy * xh
        dB(j) += dy
        val dxh = dy * g(j)
        dxhat(j) = dxh
        s1 += dxh
        s2 += dxh * xh
        j += 1
      }
      val m1 = s1 / nD; val m2 = s2 / nD
      j = 0
      while (j < n) {
        xd(i + j * xrs) = ((dxhat(j) - hd(hb + j * hcs) * m2) - m1) * inv(i)
        j += 1
      }
      i += 1
    }
    dX
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
