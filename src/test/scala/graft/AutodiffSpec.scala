package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.nn.{AeConfig, TransformerAE}

/** Gradient check: analytic backward vs central finite differences on a
  * tiny config (SURVEY.md §7.4 hard part #1 mitigation). No Spark. */
class AutodiffSpec extends AnyFunSuite {

  private val cfg = AeConfig(dModel = 4, heads = 2, layers = 2, pf = 3,
    seqLen = 3, vocabSizes = Seq(4), nCont = 2, seed = 11L)
  private val lay = cfg.layout
  private val cat = Array(Array(1), Array(3), Array(2))
  private val cont = Array(Array(0.3, -0.1), Array(0.8, 0.2), Array(-0.5, 0.4))

  test("analytic gradient matches finite differences on every parameter block") {
    val p = cfg.initParams()
    val grad = new Array[Double](lay.totalSize)
    val loss0 = TransformerAE.lossAndGrad(cfg, lay, p, grad, cat, cont)
    assert(!loss0.isNaN && loss0 > 0)

    val eps = 1e-6
    val rng = new scala.util.Random(3)
    // probe a sample of indices from EVERY parameter block
    val failures = scala.collection.mutable.ArrayBuffer[String]()
    lay.specs.foreach { s =>
      val (off, _) = lay.offsets(s.name)
      val picks = Seq.fill(math.min(4, s.size))(off + rng.nextInt(s.size)).distinct
      picks.foreach { idx =>
        val orig = p(idx)
        p(idx) = orig + eps
        val lp = TransformerAE.lossAndGrad(cfg, lay, p,
          new Array[Double](lay.totalSize), cat, cont)
        p(idx) = orig - eps
        val lm = TransformerAE.lossAndGrad(cfg, lay, p,
          new Array[Double](lay.totalSize), cat, cont)
        p(idx) = orig
        val numeric = (lp - lm) / (2 * eps)
        val analytic = grad(idx)
        // wk bias has exactly-zero true gradient (softmax is invariant to a
        // per-row constant); near-zero pairs are FD noise, not mismatches
        val bothTiny = math.abs(numeric) < 1e-8 && math.abs(analytic) < 1e-8
        val denom = math.max(1e-6, math.abs(numeric) + math.abs(analytic))
        val rel = if (bothTiny) 0.0 else math.abs(numeric - analytic) / denom
        if (rel > 1e-4)
          failures += f"${s.name}[$idx]: analytic=$analytic%.8f numeric=$numeric%.8f rel=$rel%.2e"
      }
    }
    assert(failures.isEmpty, s"gradient mismatches:\n${failures.mkString("\n")}")
  }

  test("dropout=0.1: FD gradients still match (fixed dropSeed = fixed masks)") {
    // a fixed dropSeed draws identical masks in every call, so finite
    // differences are exact at dropout > 0 — proving the backward applies
    // the SAME masks the forward drew (encoder + decoder + embeddings)
    for (c <- Seq(cfg.copy(dropout = 0.1),
                  cfg.copy(dropout = 0.1, decoderLayers = 1, seed = 13L),
                  cfg.copy(dropout = 0.1, nonSeqVocabSizes = Seq(3),
                           nNonSeqCont = 1, seed = 15L))) {
      val l = c.layout
      val p = c.initParams()
      val grad = new Array[Double](l.totalSize)
      val nsCatV = if (c.hasNonSeq) Array(1) else null
      val nsContV = if (c.hasNonSeq) Array(0.4) else null
      val loss0 = TransformerAE.lossAndGrad(c, l, p, grad, cat, cont,
        nsCat = nsCatV, nsCont = nsContV, dropSeed = 99L)
      assert(!loss0.isNaN && loss0 > 0)
      val eps = 1e-6
      val rng = new scala.util.Random(7)
      val failures = scala.collection.mutable.ArrayBuffer[String]()
      l.specs.foreach { s =>
        val (off, _) = l.offsets(s.name)
        val picks = Seq.fill(math.min(3, s.size))(off + rng.nextInt(s.size)).distinct
        picks.foreach { idx =>
          val orig = p(idx)
          p(idx) = orig + eps
          val lp = TransformerAE.lossAndGrad(c, l, p, new Array[Double](l.totalSize),
            cat, cont, nsCat = nsCatV, nsCont = nsContV, dropSeed = 99L)
          p(idx) = orig - eps
          val lm = TransformerAE.lossAndGrad(c, l, p, new Array[Double](l.totalSize),
            cat, cont, nsCat = nsCatV, nsCont = nsContV, dropSeed = 99L)
          p(idx) = orig
          val numeric = (lp - lm) / (2 * eps)
          val analytic = grad(idx)
          val bothTiny = math.abs(numeric) < 1e-8 && math.abs(analytic) < 1e-8
          val denom = math.max(1e-6, math.abs(numeric) + math.abs(analytic))
          val rel = if (bothTiny) 0.0 else math.abs(numeric - analytic) / denom
          if (rel > 1e-4 && math.abs(numeric - analytic) > 1e-9)
            failures += f"${s.name}[$idx]: analytic=$analytic%.8f numeric=$numeric%.8f rel=$rel%.2e"
        }
      }
      assert(failures.isEmpty,
        s"dropout FD mismatches (dec=${c.decoderLayers}, ns=${c.hasNonSeq}):\n${failures.mkString("\n")}")
    }
  }

  test("dropout=0.1: SGD reduces the loss; serving embed ignores dropout") {
    val c = cfg.copy(dropout = 0.1, seed = 21L)
    val l = c.layout
    val p = c.initParams()
    var first = 0.0; var last = Double.MaxValue
    for (it <- 0 until 150) {
      val g = new Array[Double](l.totalSize)
      val lo = TransformerAE.lossAndGrad(c, l, p, g, cat, cont,
        dropSeed = 1000L + it) // fresh mask per step, like torch
      if (it == 0) first = lo
      last = lo
      for (i <- p.indices) p(i) -= 0.05 * g(i)
    }
    assert(last < first, s"dropout training did not reduce loss: $first -> $last")
    // embed is mask-free: identical with and without dropout in the config
    val e1 = TransformerAE.embedDouble(c, l, p, cat, cont)
    val e2 = TransformerAE.embedDouble(c.copy(dropout = 0.0), l, p, cat, cont)
    assert(e1.toSeq == e2.toSeq)
  }

  test("a few SGD steps on one example reduce the loss") {
    val p = cfg.initParams()
    var last = Double.MaxValue
    var first = 0.0
    for (it <- 0 until 30) {
      val g = new Array[Double](lay.totalSize)
      val l = TransformerAE.lossAndGrad(cfg, lay, p, g, cat, cont)
      if (it == 0) first = l
      last = l
      for (i <- p.indices) p(i) -= 0.05 * g(i)
    }
    assert(last < first * 0.5, s"loss $first -> $last did not halve")
  }

  test("embed is consistent with the training forward (finite, deterministic)") {
    val p = cfg.initParams()
    val e1 = TransformerAE.embed(cfg, lay, p, cat, cont)
    assert(e1.length == cfg.seqLen * cfg.dModel)
    assert(e1.sameElements(TransformerAE.embed(cfg, lay, p, cat, cont)))
    assert(e1.forall(v => !v.isNaN && !v.isInfinite))
    // a different seq input gives a different embedding
    val e3 = TransformerAE.embed(cfg, lay, p, Array(Array(2), Array(3), Array(2)), cont)
    assert(!e1.sameElements(e3))
  }

  test("non-seq branch (I8): extra timestep changes the embedding; gradients match FD") {
    val nscfg = cfg.copy(nonSeqVocabSizes = Seq(3), nNonSeqCont = 2, seed = 31L,
      decoderLayers = 1)
    val nslay = nscfg.layout
    assert(nscfg.tEff == cfg.seqLen + 1)
    val p = nscfg.initParams()
    val nsCat = Array(2)
    val nsCont = Array(0.7, -0.2)
    // embedding responds to non-seq inputs
    val e1 = TransformerAE.embedDouble(nscfg, nslay, p, cat, cont, nsCat, nsCont)
    val e2 = TransformerAE.embedDouble(nscfg, nslay, p, cat, cont, Array(1), nsCont)
    val e3 = TransformerAE.embedDouble(nscfg, nslay, p, cat, cont, nsCat, Array(0.1, 0.9))
    assert(e1.length == nscfg.tEff * nscfg.dModel)
    assert(!e1.sameElements(e2), "changing the non-seq cat code must change the embedding")
    assert(!e1.sameElements(e3), "changing the non-seq cont input must change the embedding")
    // gradient check over every block incl. nsEmb/linNonSeq/headNs*
    val grad = new Array[Double](nslay.totalSize)
    val loss0 = TransformerAE.lossAndGrad(nscfg, nslay, p, grad, cat, cont,
      nsCat = nsCat, nsCont = nsCont)
    assert(!loss0.isNaN && loss0 > 0)
    val eps = 1e-6
    val rng = new scala.util.Random(13)
    val failures = scala.collection.mutable.ArrayBuffer[String]()
    nslay.specs.foreach { s =>
      val (off, _) = nslay.offsets(s.name)
      val picks = Seq.fill(math.min(3, s.size))(off + rng.nextInt(s.size)).distinct
      picks.foreach { idx =>
        val orig = p(idx)
        p(idx) = orig + eps
        val lp = TransformerAE.lossAndGrad(nscfg, nslay, p,
          new Array[Double](nslay.totalSize), cat, cont, nsCat = nsCat, nsCont = nsCont)
        p(idx) = orig - eps
        val lm = TransformerAE.lossAndGrad(nscfg, nslay, p,
          new Array[Double](nslay.totalSize), cat, cont, nsCat = nsCat, nsCont = nsCont)
        p(idx) = orig
        val numeric = (lp - lm) / (2 * eps)
        val analytic = grad(idx)
        val bothTiny = math.abs(numeric) < 1e-8 && math.abs(analytic) < 1e-8
        val denom = math.max(1e-6, math.abs(numeric) + math.abs(analytic))
        val rel = if (bothTiny) 0.0 else math.abs(numeric - analytic) / denom
        if (rel > 1e-4)
          failures += f"${s.name}[$idx]: analytic=$analytic%.8f numeric=$numeric%.8f rel=$rel%.2e"
      }
    }
    assert(failures.isEmpty, s"non-seq gradient mismatches:\n${failures.mkString("\n")}")
  }

  test("I16 transformer churn fine-tune: BCE head FD-checked, encoder unfrozen") {
    for (y <- Seq(0.0, 1.0)) {
      val ccfg = cfg.copy(churn = true, seed = 37L,
        nonSeqVocabSizes = Seq(3), nNonSeqCont = 1) // ns timestep included
      val clay = ccfg.layout
      assert(clay.specs.exists(_.name == "churn_w"))
      assert(!clay.specs.exists(_.name.startsWith("headCat")),
        "churn mode replaces the reconstruction heads")
      assert(clay.offsets("churn_w")._2.rows == ccfg.tEff * ccfg.dModel)
      val p = ccfg.initParams()
      val nsCat = Array(1); val nsCont = Array(0.4)
      val grad = new Array[Double](clay.totalSize)
      val loss0 = TransformerAE.lossAndGrad(ccfg, clay, p, grad, cat, cont,
        nsCat = nsCat, nsCont = nsCont, label = y)
      assert(!loss0.isNaN && loss0 > 0)
      val eps = 1e-6
      val rng = new scala.util.Random(17)
      val failures = scala.collection.mutable.ArrayBuffer[String]()
      clay.specs.foreach { s =>
        val (off, _) = clay.offsets(s.name)
        val picks = Seq.fill(math.min(3, s.size))(off + rng.nextInt(s.size)).distinct
        picks.foreach { idx =>
          val orig = p(idx)
          p(idx) = orig + eps
          val lp = TransformerAE.lossAndGrad(ccfg, clay, p, null, cat, cont,
            nsCat = nsCat, nsCont = nsCont, label = y)
          p(idx) = orig - eps
          val lm = TransformerAE.lossAndGrad(ccfg, clay, p, null, cat, cont,
            nsCat = nsCat, nsCont = nsCont, label = y)
          p(idx) = orig
          val numeric = (lp - lm) / (2 * eps)
          val analytic = grad(idx)
          val bothTiny = math.abs(numeric) < 1e-8 && math.abs(analytic) < 1e-8
          val denom = math.max(1e-6, math.abs(numeric) + math.abs(analytic))
          val rel = if (bothTiny) 0.0 else math.abs(numeric - analytic) / denom
          if (rel > 1e-4)
            failures += f"${s.name}[$idx]: analytic=$analytic%.8f numeric=$numeric%.8f rel=$rel%.2e"
        }
      }
      assert(failures.isEmpty, s"churn label=$y mismatches:\n${failures.mkString("\n")}")
      // gradients reach the encoder (unfrozen, model_wrapper.py:302-316)
      val (off, sp) = clay.offsets("l0_wq_w")
      assert((0 until sp.size).exists(i => math.abs(grad(off + i)) > 1e-12),
        "churn gradients must flow into the encoder layers")
    }
    // churn SGD drives BCE toward the label
    val ccfg = cfg.copy(churn = true, seed = 41L)
    val clay = ccfg.layout
    val p = ccfg.initParams()
    var first = 0.0; var last = Double.MaxValue
    for (it <- 0 until 60) {
      val g = new Array[Double](clay.totalSize)
      val l = TransformerAE.lossAndGrad(ccfg, clay, p, g, cat, cont, label = 1.0)
      if (it == 0) first = l
      last = l
      for (i <- p.indices) p(i) -= 0.1 * g(i)
    }
    assert(last < first * 0.5 && last < 0.2, s"churn loss $first -> $last")
  }

  test("decoder path: gradients match finite differences; loss trains down") {
    val dcfg = cfg.copy(decoderLayers = 1, seed = 23L)
    val dlay = dcfg.layout
    val p = dcfg.initParams()
    val grad = new Array[Double](dlay.totalSize)
    val loss0 = TransformerAE.lossAndGrad(dcfg, dlay, p, grad, cat, cont)
    assert(!loss0.isNaN && loss0 > 0)
    val eps = 1e-6
    val rng = new scala.util.Random(7)
    val failures = scala.collection.mutable.ArrayBuffer[String]()
    dlay.specs.foreach { s =>
      val (off, _) = dlay.offsets(s.name)
      val picks = Seq.fill(math.min(3, s.size))(off + rng.nextInt(s.size)).distinct
      picks.foreach { idx =>
        val orig = p(idx)
        p(idx) = orig + eps
        val lp = TransformerAE.lossAndGrad(dcfg, dlay, p,
          new Array[Double](dlay.totalSize), cat, cont)
        p(idx) = orig - eps
        val lm = TransformerAE.lossAndGrad(dcfg, dlay, p,
          new Array[Double](dlay.totalSize), cat, cont)
        p(idx) = orig
        val numeric = (lp - lm) / (2 * eps)
        val analytic = grad(idx)
        val bothTiny = math.abs(numeric) < 1e-8 && math.abs(analytic) < 1e-8
        val denom = math.max(1e-6, math.abs(numeric) + math.abs(analytic))
        val rel = if (bothTiny) 0.0 else math.abs(numeric - analytic) / denom
        if (rel > 1e-4)
          failures += f"${s.name}[$idx]: analytic=$analytic%.8f numeric=$numeric%.8f rel=$rel%.2e"
      }
    }
    assert(failures.isEmpty, s"decoder gradient mismatches:\n${failures.mkString("\n")}")
    // SGD sanity
    var last = Double.MaxValue; var first = 0.0
    for (it <- 0 until 30) {
      val g = new Array[Double](dlay.totalSize)
      val l = TransformerAE.lossAndGrad(dcfg, dlay, p, g, cat, cont)
      if (it == 0) first = l
      last = l
      for (i <- p.indices) p(i) -= 0.05 * g(i)
    }
    assert(last < first * 0.7, s"decoder loss $first -> $last")
  }

  test("I1 pretrained embeddings: injected at init, frozen slices survive Adam steps") {
    val dim = cfg.embDims.head
    val vecs = Array.tabulate(cfg.vocabSizes.head + 1, dim)((r, c) =>
      0.01 * (r * dim + c) - 0.03)
    val pre = cfg.copy(pretrainedEmb = Map(0 -> vecs))
    val p = pre.initParams()
    // injected exactly (row = code, read back through the layout view)...
    val emb = lay.mat("emb0", p)
    for (r <- vecs.indices; c <- 0 until dim) assert(emb(r, c) == vecs(r)(c))
    // ...and every OTHER block is bit-identical to the vanilla init (the
    // injection must not perturb the rng stream = non-frozen path unchanged)
    val p0 = cfg.initParams()
    lay.specs.filterNot(_.name == "emb0").foreach { s =>
      val (off, _) = lay.offsets(s.name)
      for (i <- 0 until s.size) assert(p(off + i) == p0(off + i))
    }
    // real gradients DO reach the table (backward unchanged)...
    val grad = new Array[Double](lay.totalSize)
    TransformerAE.lossAndGrad(pre, lay, p, grad, cat, cont)
    val (embOff, embSpec) = lay.offsets("emb0")
    assert((embOff until embOff + embSpec.size).exists(grad(_) != 0.0))
    // ...but the frozen slice is untouched by optimizer steps while the
    // rest of the model moves (the from_pretrained freeze contract)
    val before = p.clone()
    val adam = new graft.train.Adam(lay.totalSize, frozen = pre.frozenRanges)
    adam.step(p, grad, 1e-2)
    adam.step(p, grad, 1e-2)
    for (i <- embOff until embOff + embSpec.size) assert(p(i) == before(i))
    assert(p.indices.exists(i => p(i) != before(i)))
    // freezePretrained = false: same vectors, trainable — the step moves them
    val un = pre.copy(freezePretrained = false)
    assert(un.frozenRanges.isEmpty)
    val p2 = un.initParams()
    val grad2 = new Array[Double](lay.totalSize)
    TransformerAE.lossAndGrad(un, lay, p2, grad2, cat, cont)
    val b2 = p2.clone()
    new graft.train.Adam(lay.totalSize, frozen = un.frozenRanges).step(p2, grad2, 1e-2)
    assert((embOff until embOff + embSpec.size).exists(i => p2(i) != b2(i)))
    // malformed injections are rejected up front
    intercept[IllegalArgumentException] {
      cfg.copy(pretrainedEmb = Map(0 -> Array(Array(0.1))))
    }
    intercept[IllegalArgumentException] {
      cfg.copy(pretrainedEmb = Map(5 -> vecs))
    }
  }
}
