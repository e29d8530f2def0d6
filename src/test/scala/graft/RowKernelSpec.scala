package graft

import breeze.linalg.{*, DenseMatrix, DenseVector, max, sum}
import breeze.numerics.exp
import org.scalatest.funsuite.AnyFunSuite
import graft.nn.Layers

/** The nn row kernels equal, bit for bit, the Breeze formulations they
  * stand for — on fresh matrices and on the views the call sites pass
  * (column slice, row range, transpose). No Spark. */
class RowKernelSpec extends AnyFunSuite {

  private val rows = 5
  private val cols = 4

  /** A seeded random matrix with exact zeros, negative zeros and negatives. */
  private def randMat(seed: Long, r: Int, c: Int): DenseMatrix[Double] = {
    val rng = new scala.util.Random(seed)
    DenseMatrix.tabulate(r, c) { (_, _) =>
      rng.nextInt(10) match {
        case 0 => 0.0
        case 1 => -0.0
        case _ => rng.nextGaussian() * 3
      }
    }
  }

  /** Each view shape as (name, build), rows x cols, over a seeded backing
    * matrix; building twice from one seed gives equal, unshared storage. */
  private val views: Seq[(String, Long => DenseMatrix[Double])] = Seq(
    "fresh" -> (s => randMat(s, rows, cols)),
    "column slice" -> (s => randMat(s, rows, cols + 3)(::, 2 until 2 + cols)),
    "row range" -> (s => randMat(s, rows + 3, cols)(1 until 1 + rows, ::)),
    "transpose" -> (s => randMat(s, cols, rows).t),
    "transposed slice" -> (s => randMat(s, cols + 2, rows + 1).t(1 until 1 + rows, 1 until 1 + cols)))

  private def bits(m: DenseMatrix[Double]): Seq[Long] =
    for (i <- 0 until m.rows; j <- 0 until m.cols)
      yield java.lang.Double.doubleToRawLongBits(m(i, j))
  private def bits(a: Array[Double]): Seq[Long] =
    a.toSeq.map(java.lang.Double.doubleToRawLongBits)
  private def bits(v: DenseVector[Double]): Seq[Long] = bits(v.toArray)

  /** A bias-like vector view: every other element of a seeded backing array. */
  private def vecView(seed: Long): DenseVector[Double] = {
    val back = randMat(seed, 2 * cols + 1, 1).toArray
    new DenseVector(back, 1, 2, cols)
  }

  test("addBias equals m(*, ::) :+= b and writes nothing outside the view") {
    for ((name, mk) <- views; seed <- 1L to 5L) {
      val ref = mk(seed); val got = mk(seed)
      ref(*, ::) :+= vecView(seed + 100)
      Layers.addBias(got, vecView(seed + 100))
      assert(bits(got) == bits(ref), name)
      assert(bits(got.data) == bits(ref.data), s"$name: backing storage")
    }
  }

  test("addColSums equals the per-row g :+= d(i, ::).t loop") {
    for ((name, mk) <- views; seed <- 1L to 5L) {
      val d = mk(seed)
      val ref = vecView(seed + 100); val got = vecView(seed + 100)
      for (i <- 0 until d.rows) ref :+= d(i, ::).t
      Layers.addColSums(got, d)
      assert(bits(got) == bits(ref), name)
      assert(bits(got.data) == bits(ref.data), s"$name: backing storage")
    }
  }

  test("relu and reluBwd equal the Breeze map and the masked copy") {
    for ((name, mk) <- views; seed <- 1L to 5L) {
      val m = mk(seed); val dAct = mk(seed + 50)
      assert(bits(Layers.relu(m)) == bits(m.map(v => if (v > 0) v else 0.0)), name)
      val ref = dAct.copy
      for (i <- 0 until ref.rows; j <- 0 until ref.cols) if (m(i, j) <= 0) ref(i, j) = 0.0
      assert(bits(Layers.reluBwd(dAct, m)) == bits(ref), name)
    }
  }

  test("softmaxRows and softmaxBwd equal the per-row Breeze formulations") {
    for ((name, mk) <- views; seed <- 1L to 5L) {
      val m = mk(seed)
      val ref = m.copy
      for (i <- 0 until m.rows) {
        val row = ref(i, ::).t
        val e = exp(row - max(row))
        ref(i, ::) := (e / sum(e)).t
      }
      assert(bits(Layers.softmaxRows(m)) == bits(ref), name)

      val a = Layers.softmaxRows(mk(seed + 7)); val dA = mk(seed + 9)
      val refB = DenseMatrix.zeros[Double](a.rows, a.cols)
      for (i <- 0 until a.rows) {
        val ai = a(i, ::).t
        val dai = dA(i, ::).t
        val dot = sum(ai *:* dai)
        refB(i, ::) := ((dai - dot) *:* ai).t
      }
      refB :/= math.sqrt(2.0)
      assert(bits(Layers.softmaxBwd(a, dA, math.sqrt(2.0))) == bits(refB), name)
    }
  }

  test("layerNormFwd and layerNormBwd equal the per-row Breeze formulations") {
    val eps = 1e-5
    for ((name, mk) <- views; seed <- 1L to 5L) {
      val x = mk(seed)
      val g = vecView(seed + 100); val b = vecView(seed + 200)
      val out = DenseMatrix.zeros[Double](x.rows, x.cols)
      val xhat = DenseMatrix.zeros[Double](x.rows, x.cols)
      val inv = new Array[Double](x.rows)
      for (i <- 0 until x.rows) {
        val row = x(i, ::).t
        val mu = sum(row) / row.length
        val c = row - mu
        val istd = 1.0 / math.sqrt(sum(c *:* c) / row.length + eps)
        inv(i) = istd
        xhat(i, ::) := (c * istd).t
        out(i, ::) := ((c * istd) *:* g + b).t
      }
      val (gotOut, gotXhat, gotInv) = Layers.layerNormFwd(x, g, b, eps)
      assert(bits(gotOut) == bits(out), name)
      assert(bits(gotXhat) == bits(xhat), name)
      assert(bits(gotInv) == bits(inv), name)

      val dOut = mk(seed + 300)
      val n = xhat.cols.toDouble
      val dG = vecView(seed + 400); val dB = vecView(seed + 500)
      val dX = DenseMatrix.zeros[Double](xhat.rows, xhat.cols)
      for (i <- 0 until xhat.rows) {
        val dy = dOut(i, ::).t
        val xh = xhat(i, ::).t
        dG :+= dy *:* xh
        dB :+= dy
        val dxhat = dy *:* g
        val s1 = sum(dxhat)
        val s2 = sum(dxhat *:* xh)
        dX(i, ::) := ((dxhat - (xh * (s2 / n)) - (s1 / n)) * inv(i)).t
      }
      val gotDG = vecView(seed + 400); val gotDB = vecView(seed + 500)
      val gotDX = Layers.layerNormBwd(dOut, xhat, inv, g, gotDG, gotDB)
      assert(bits(gotDX) == bits(dX), name)
      assert(bits(gotDG) == bits(dG), name)
      assert(bits(gotDB) == bits(dB), name)
    }
  }
}
