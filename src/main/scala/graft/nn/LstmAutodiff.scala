package graft.nn

import breeze.linalg.{DenseMatrix, DenseVector, sum}
import breeze.numerics.{exp, sigmoid, tanh}

/**
 * Trainable LSTM encoder (SURVEY.md §2.I11/I12 training path): forward +
 * full BPTT backward over the flat-parameter scheme shared with
 * [[TransformerAE]], so the same [[graft.train.EpochLoop]] harness trains
 * either architecture.
 *
 * Objectives, selected by `decoder`:
 *  - "none": per-timestep reconstruction heads on the LSTM outputs (CE per
 *    cat col + MSE cont) plus an MSE head on the pooled ([lstm_to_dense
 *    (h_T), context] -> fuse) embedding — the denoising objective used
 *    pre-round-2.
 *  - "teacher" (I15, AutoencoderTeacherTraining, model_wrapper.py:158-214):
 *    a one-layer LSTM decoder (I13, lstm_decoder.py:8-57) is initialized
 *    with hidden = (fused embedding, c_T) — the reference's unified encoder
 *    returns exactly that pair (unified_encoder.py:271) — and fed the
 *    SHIFTED ground-truth inputs ([0; x_{0..T-2}], :183-188); per-step heads
 *    out_cont = ReLU(linear(tanh(h))) and per-cat logits reconstruct step i.
 *  - "auto" (I14, LSTMAutoencoder, model_wrapper.py:28-120): same decoder,
 *    but step i's input is the PREVIOUS PREDICTION — argmax cat codes
 *    re-embedded through the encoder's embedding tables ++ out_cont
 *    (:74-86). Gradients flow through the out_cont input chain and the
 *    re-embedded predicted codes' table rows (argmax itself is constant).
 *    With non-seq features present, "auto" also decodes them from the
 *    fused embedding (mlp_non_seq_cont / mlp_non_seq_cat_list heads on hn,
 *    model_wrapper.py:55-58; losses :114-118).
 *  - "churn" (I16 fine-tune mode, ChurnModel, model_wrapper.py:123-155):
 *    a sigmoid head on the fused embedding, BCE against `label`, gradients
 *    flowing end-to-end through the UNFROZEN encoder (:284-316 is the
 *    transformer twin). The frozen-encoder variant stays
 *    [[graft.analyze.Segmentation.churnHead]].
 *
 * In decoder modes the hidden-state init makes attention/fuse trainable
 * through the decoder (h0 = fused embedding), so the pooled head is
 * dropped; outDim must equal hidden. Serving embedding = the fused vector
 * in every mode (spark/score.py:60-61).
 *
 * Non-seq features (I11, unified_encoder.py:142-146, 221-227, 262-263):
 * ns cat embeddings -> DenseBnDropout MLP; the MLP output ++ ns cont is
 * CONCATENATED in front of [lstm_to_dense(h_T), context] before the fuse
 * linear. The BatchNorm inside the MLP normalizes with its RUNNING
 * statistics (init mean 0 / var 1) in this per-example gradient scheme —
 * batch statistics are undefined at batch size 1 under treeAggregate —
 * with gamma/beta trained; the serving twin ([[DenseBnBlock.forward]])
 * applies the same running-stats affine, so trained and scored paths
 * agree by construction.
 *
 * Bahdanau attention follows attention_mechanisms.py:102-110 exactly by
 * default: fc_encoder = Linear(D*h -> h, bias=False) and attnHidden =
 * Linear(h -> 1) WITH its scalar bias (the bias is softmax-shift-invariant
 * so its gradient is identically zero, but it exists for parameter-count
 * parity — see [[graft.analyze.Capacity]]). `attnDim = 0` selects the
 * faithful score width (= hidden); a positive attnDim plus
 * `attnInputBias = true` opts into the generalized form kept from earlier
 * rounds. `attnHeads > 1` selects the I5 MHA wrapper instead
 * (unified_encoder.py:186-192; attention_mechanisms.py:63-99: per-head
 * softmax(QK/sqrt(hd))V, residual + layernorm, sum-over-time pooling) —
 * the trainable twin of [[MhaSumPool]].
 */
final case class LstmAeConfig(hidden: Int, outDim: Int, attnDim: Int,
    seqLen: Int, vocabSizes: Seq[Int], nCont: Int, seed: Long = 42L,
    decoder: String = "none",
    numLayers: Int = 1, bidirectional: Boolean = false,
    dropout: Double = 0.0, // inter-layer, nn.LSTM semantics (active iff numLayers > 1)
    attnInputBias: Boolean = false, // generalized Bahdanau (adds ab1)
    nonSeqVocabSizes: Seq[Int] = Nil, nNonSeqCont: Int = 0,
    nsMlpDim: Int = 16, // emb_lin_layer_sizes_non_seq[-1]
    attnHeads: Int = 1, // > 1 selects the I5 MHA wrapper over Bahdanau
                        // (unified_encoder.py:186-192)
    attnDropout: Double = 0.1, // the MHA wrapper's OWN dropout rate —
                        // the reference hardcodes
                        // MultiHeadAttentionLSTMWrapper(dropout=0.1)
                        // (unified_encoder.py:186-192), independent of the
                        // inter-layer LSTM `dropout` above
    // I1 pretrained vectors (embedding_layer.py:18-39): seq-cat column
    // index -> (vocab+1) x embDim table injected at init; frozen tables'
    // slices are masked out of optimizer steps (same contract as AeConfig)
    pretrainedEmb: Map[Int, Array[Array[Double]]] = Map.empty,
    freezePretrained: Boolean = true) {
  require(Seq("none", "teacher", "auto", "churn").contains(decoder))
  pretrainedEmb.foreach { case (i, vecs) =>
    require(i >= 0 && i < vocabSizes.size,
      s"pretrainedEmb column index $i outside the ${vocabSizes.size} seq cat columns")
    require(vecs.length == vocabSizes(i) + 1,
      s"pretrainedEmb($i) needs ${vocabSizes(i) + 1} rows (vocab + UNK/pad row 0), got ${vecs.length}")
    require(vecs.forall(_.length == embDims(i)),
      s"pretrainedEmb($i) vectors must have the layout dim ${embDims(i)}")
  }
  require(attnHeads >= 1 && (attnHeads == 1 || dirs * hidden % attnHeads == 0),
    "attention heads must divide D*hidden")
  require(!hasDecoder || outDim == hidden,
    "decoder hidden init = fused embedding (unified_encoder.py:271) needs outDim == hidden")
  require(numLayers >= 1)
  require(dropout >= 0.0 && dropout < 1.0)
  require(attnDropout >= 0.0 && attnDropout < 1.0)
  def embDims: Seq[Int] = vocabSizes.map(v => Dims.embeddingDim(v.toLong))
  def inDim: Int = embDims.sum + nCont
  def hasDecoder: Boolean = decoder == "teacher" || decoder == "auto"
  /** Bahdanau score width; 0 = reference-faithful (= hidden,
    * attention_mechanisms.py:109). */
  def attnW: Int = if (attnDim <= 0) hidden else attnDim
  def nsEmbDims: Seq[Int] = nonSeqVocabSizes.map(v => Dims.embeddingDim(v.toLong))
  /** emb_lin_layer_non_seq exists iff there are ns cat embeddings
    * (unified_encoder.py:142-146). */
  def hasNsMlp: Boolean = nonSeqVocabSizes.nonEmpty
  /** Width of the ns slice prepended to the fuse input. */
  def nsFinal: Int = if (hasNsMlp) nsMlpDim else 0
  def nsWidth: Int = nsFinal + nNonSeqCont
  /** I16 fine-tune mode: BCE sigmoid head, no reconstruction decoder. */
  def hasChurn: Boolean = decoder == "churn"
  /** nn.LSTM num_directions (multi_layer_lstm.py:30). */
  def dirs: Int = if (bidirectional) 2 else 1
  /** Width of the per-timestep layer output: [h_fwd ; h_bwd] when bidir. */
  def outWidth: Int = dirs * hidden

  /** Cell parameter-name suffix; layer-0 forward keeps the legacy bare
    * names so single-layer unidirectional layouts are unchanged. */
  def cellSuffix(layer: Int, reverse: Boolean): String =
    if (layer == 0 && !reverse) "" else s"_l$layer${if (reverse) "r" else ""}"

  def layout: ParamLayout = {
    val specs = Seq.newBuilder[ParamSpec]
    vocabSizes.zip(embDims).zipWithIndex.foreach { case ((v, d), i) =>
      specs += ParamSpec(s"emb$i", v + 1, d)
    }
    // stacked (+bidirectional) cells (multi_layer_lstm.py:28-30): layer 0
    // reads the embedded input, layer l>0 reads the D*h-wide layer output
    for (l <- 0 until numLayers; d <- 0 until dirs) {
      val suf = cellSuffix(l, d == 1)
      val lin = if (l == 0) inDim else outWidth
      for (g <- Seq("i", "f", "g", "o")) {
        specs += ParamSpec(s"w$g$suf", lin, hidden)
        specs += ParamSpec(s"u$g$suf", hidden, hidden)
        specs += ParamSpec(s"b$g$suf", 1, hidden)
      }
    }
    // attention reads the top layer's D*h-wide outputs; the reference
    // selects ONE mechanism (unified_encoder.py:186-192): heads == 1 ->
    // Bahdanau, heads > 1 -> the I5 MHA wrapper with residual + layernorm
    // + sum-over-time pooling (attention_mechanisms.py:63-99).
    // WIDTH NOTE — deliberate generalization, not line-level parity: the
    // reference constructs the wrapper with d_model = hidden_size
    // (unified_encoder.py:190-192) even though the LSTM outputs are
    // D*hidden wide, so bidirectional+MHA would CRASH there on the q/k/v
    // matmul. We size the projections oW = D*hidden (matching the actual
    // input), which is identical to the reference when D = 1 and the
    // working extension when D = 2 — parameter-parity comparisons must
    // account for the doubled widths in the bidirectional case.
    if (attnHeads > 1) {
      for (n <- Seq("mq", "mk", "mv", "mo")) {
        specs += ParamSpec(s"${n}_w", outWidth, outWidth)
        specs += ParamSpec(s"${n}_b", 1, outWidth)
      }
      specs += ParamSpec("mln_g", 1, outWidth)
      specs += ParamSpec("mln_b", 1, outWidth)
    } else {
      // Faithful Bahdanau widths (attention_mechanisms.py:108-110):
      // fc_encoder = Linear(D*h -> attnW, bias only when attnInputBias) and
      // attnHidden = Linear(attnW -> 1) WITH its scalar bias `avb`
      // (softmax-shift-invariant but counted, for parameter parity)
      specs += ParamSpec("aw1", outWidth, attnW)
      if (attnInputBias) specs += ParamSpec("ab1", 1, attnW)
      specs += ParamSpec("av", 1, attnW)
      specs += ParamSpec("avb", 1, 1)
    }
    // lin_layer_lstm_to_dense (multi_layer_lstm.py:34-36,55-60): [h_T fwd ;
    // h_T bwd] of the LAST layer is projected D*h -> h before the fuse
    // concat [proj(h_T), context]
    specs += ParamSpec("l2d_w", outWidth, hidden)
    specs += ParamSpec("l2d_b", 1, hidden)
    // non-seq branch (unified_encoder.py:142-146,257-266): ns cat embedding
    // tables -> one DenseBnDropout layer (Linear+ReLU+BN affine, running
    // stats frozen at 0/1 in this per-example scheme, gamma/beta trained);
    // its output ++ ns cont is PREPENDED to the fuse input
    nonSeqVocabSizes.zip(nsEmbDims).zipWithIndex.foreach { case ((v, d), i) =>
      specs += ParamSpec(s"nsemb$i", v + 1, d)
    }
    if (hasNsMlp) {
      specs += ParamSpec("ns_w", nsEmbDims.sum, nsMlpDim)
      specs += ParamSpec("ns_b", 1, nsMlpDim)
      specs += ParamSpec("ns_g", 1, nsMlpDim)
      specs += ParamSpec("ns_beta", 1, nsMlpDim)
    }
    specs += ParamSpec("fuse_w", nsWidth + hidden + outWidth, outDim)
    specs += ParamSpec("fuse_b", 1, outDim)
    if (hasChurn) {
      // I16 ChurnModel head (model_wrapper.py:125-133): mlp on the fused
      // embedding; BCE-with-logits against `label`, encoder unfrozen
      specs += ParamSpec("churn_w", outDim, 1)
      specs += ParamSpec("churn_b", 1, 1)
    } else if (hasDecoder) {
      // I13 decoder cell + heads (lstm_decoder.py:27-33)
      for (g <- Seq("i", "f", "g", "o")) {
        specs += ParamSpec(s"dw$g", inDim, hidden)
        specs += ParamSpec(s"du$g", hidden, hidden)
        specs += ParamSpec(s"db$g", 1, hidden)
      }
      specs += ParamSpec("decCont_w", hidden, math.max(nCont, 1))
      specs += ParamSpec("decCont_b", 1, math.max(nCont, 1))
      vocabSizes.zipWithIndex.foreach { case (v, i) =>
        specs += ParamSpec(s"decCat${i}_w", hidden, v + 1)
        specs += ParamSpec(s"decCat${i}_b", 1, v + 1)
      }
      if (decoder == "auto") {
        // auto mode also decodes the non-seq features from the fused
        // embedding (mlp_non_seq_cont / mlp_non_seq_cat_list on hn,
        // model_wrapper.py:55-58)
        if (nNonSeqCont > 0) {
          specs += ParamSpec("nsDecCont_w", outDim, nNonSeqCont)
          specs += ParamSpec("nsDecCont_b", 1, nNonSeqCont)
        }
        nonSeqVocabSizes.zipWithIndex.foreach { case (v, i) =>
          specs += ParamSpec(s"nsDecCat${i}_w", outDim, v + 1)
          specs += ParamSpec(s"nsDecCat${i}_b", 1, v + 1)
        }
      }
    } else {
      vocabSizes.zipWithIndex.foreach { case (v, i) =>
        specs += ParamSpec(s"headCat${i}_w", outWidth, v + 1)
        specs += ParamSpec(s"headCat${i}_b", 1, v + 1)
      }
      specs += ParamSpec("headCont_w", outWidth, math.max(nCont, 1))
      specs += ParamSpec("headCont_b", 1, math.max(nCont, 1))
      specs += ParamSpec("headPool_w", outDim, math.max(nCont, 1))
      specs += ParamSpec("headPool_b", 1, math.max(nCont, 1))
    }
    new ParamLayout(specs.result())
  }

  private val GateBias = "(d?)b([ifgo])(_l\\d+r?)?".r

  def initParams(): Array[Double] = {
    val lay = layout
    val rng = new scala.util.Random(seed)
    val a = new Array[Double](lay.totalSize)
    lay.specs.foreach { s =>
      val (off, _) = lay.offsets(s.name)
      s.name match {
        case GateBias(_, "f", _) =>
          for (i <- 0 until s.size) a(off + i) = 1.0 // forget bias
        case GateBias(_, _, _) => () // other gate biases zero
        case "ns_g" | "mln_g" =>
          for (i <- 0 until s.size) a(off + i) = 1.0 // BatchNorm/LN gamma
        case n if n.endsWith("_b") || n == "ab1" || n == "avb" || n == "ns_beta" => ()
        case _ =>
          val limit = math.sqrt(6.0 / (s.rows + s.cols))
          for (i <- 0 until s.size) a(off + i) = (rng.nextDouble() * 2 - 1) * limit
      }
    }
    // inject pretrained embedding tables AFTER the random sweep (rng stream
    // unchanged with or without injection); column-major per ParamLayout.mat
    pretrainedEmb.foreach { case (ci, vecs) =>
      val (off, s) = lay.offsets(s"emb$ci")
      for (r <- 0 until s.rows; c <- 0 until s.cols)
        a(off + c * s.rows + r) = vecs(r)(c)
    }
    a
  }

  /** Frozen flat-param slices: pretrained embedding tables when
    * `freezePretrained` (from_pretrained freeze semantics). */
  def frozenRanges: Seq[(Int, Int)] =
    if (!freezePretrained || pretrainedEmb.isEmpty) Nil
    else {
      val lay = layout
      pretrainedEmb.keys.toSeq.sorted.map { ci =>
        val (off, s) = lay.offsets(s"emb$ci"); (off, s.size)
      }
    }
}

object LstmAE {

  /** Forward one example; when `grad` is non-null also runs the backward and
    * accumulates parameter gradients. `grad == null` evaluates the loss
    * forward-only; `embedOnly = true` additionally skips the decoder/head
    * forward and returns (0, embedding) straight after the encoder — the
    * serving path, where the decoder loss is pure overhead.
    * Returns (loss, pooledEmbedding). */
  def lossGradEmbed(cfg: LstmAeConfig, lay: ParamLayout, p: Array[Double],
      grad: Array[Double], catCodes: Array[Array[Int]],
      cont: Array[Array[Double]],
      nsCat: Array[Int] = null, nsCont: Array[Double] = null,
      label: Double = 0.0,
      embedOnly: Boolean = false,
      dropSeed: Long = 0L): (Double, Array[Double]) = {
    val t = cfg.seqLen
    val h = cfg.hidden
    val nCat = cfg.vocabSizes.size
    val embDims = cfg.embDims
    // inter-layer inverted dropout (nn.LSTM dropout, multi_layer_lstm.py:28-29:
    // applied between stacked layers only, never after the top layer, never
    // at serving). Masks are drawn from a dropSeed-seeded RNG in layer order
    // so the backward reuses exactly the forward's masks; embedOnly = the
    // serving path = identity.
    val pDrop = if (embedOnly) 0.0 else cfg.dropout
    // the MHA wrapper's dropouts run at their OWN reference-hardcoded rate
    // (0.1), not the inter-layer LSTM rate; both families draw from the one
    // fixed-order dropSeed RNG so the backward/FD reuse is unchanged
    val pAttnDrop = if (embedOnly) 0.0 else cfg.attnDropout
    val dropRng =
      if (pDrop > 0 || pAttnDrop > 0) new java.util.Random(dropSeed) else null
    def maskAt(p: Double, r: Int, c: Int): DenseMatrix[Double] =
      if (p <= 0) null
      else DenseMatrix.tabulate(r, c)((_, _) =>
        if (dropRng.nextDouble() < p) 0.0 else 1.0 / (1.0 - p))
    def dropMask(r: Int, c: Int): DenseMatrix[Double] = maskAt(pDrop, r, c)
    def attnDropMask(r: Int, c: Int): DenseMatrix[Double] = maskAt(pAttnDrop, r, c)
    def masked(mm: DenseMatrix[Double], mask: DenseMatrix[Double]): DenseMatrix[Double] =
      if (mask == null) mm else mm *:* mask

    // ---- embed inputs --------------------------------------------------
    val x0 = DenseMatrix.zeros[Double](t, cfg.inDim)
    for (i <- 0 until t) {
      var off = 0
      for (c <- 0 until nCat) {
        val table = lay.mat(s"emb$c", p)
        val code = math.min(math.max(catCodes(i)(c), 0), table.rows - 1)
        x0(i, off until off + embDims(c)) := table(code, ::)
        off += embDims(c)
      }
      for (c <- 0 until cfg.nCont) x0(i, embDims.sum + c) = cont(i)(c)
    }

    def W(n: String) = lay.mat(n, p)
    def V(n: String) = lay.vec(n, p)

    // ---- LSTM forward with caches -------------------------------------
    // Stacked (+bidirectional) cells, nn.LSTM semantics (multi_layer_
    // lstm.py:28-30): layer l reads layer l-1's per-timestep output
    // (width D*h when bidir: [h_fwd_t ; h_bwd_t]); caches are stored in
    // PROCESSING order s (the reverse direction processes i = t-1-s).
    val L = cfg.numLayers
    val D = cfg.dirs
    val oW = cfg.outWidth
    val layerIn = new Array[DenseMatrix[Double]](L + 1)
    layerIn(0) = x0
    val caches = Array.ofDim[CellCache](L, D)
    // mask l sits between layer l and l+1 (nn.LSTM applies no dropout
    // after the top layer); layerIn stores the MASKED activations
    val betweenMask = new Array[DenseMatrix[Double]](math.max(L - 1, 0))
    for (l <- 0 until L) {
      val inM = layerIn(l)
      val outM = DenseMatrix.zeros[Double](t, oW)
      for (d <- 0 until D) {
        val suf = cfg.cellSuffix(l, d == 1)
        val hs = DenseMatrix.zeros[Double](t + 1, h) // state 0 .. T (row 0 = zeros)
        val cs = DenseMatrix.zeros[Double](t + 1, h)
        val ig = DenseMatrix.zeros[Double](t, h)
        val fg = DenseMatrix.zeros[Double](t, h)
        val gg = DenseMatrix.zeros[Double](t, h)
        val og = DenseMatrix.zeros[Double](t, h)
        for (s <- 0 until t) {
          val i = if (d == 0) s else t - 1 - s
          val x = inM(i, ::).t
          val hp = hs(s, ::).t
          val iv = sigmoid(W(s"wi$suf").t * x + W(s"ui$suf").t * hp + V(s"bi$suf"))
          val fv = sigmoid(W(s"wf$suf").t * x + W(s"uf$suf").t * hp + V(s"bf$suf"))
          val gv = tanh(W(s"wg$suf").t * x + W(s"ug$suf").t * hp + V(s"bg$suf"))
          val ov = sigmoid(W(s"wo$suf").t * x + W(s"uo$suf").t * hp + V(s"bo$suf"))
          val cv = (fv *:* cs(s, ::).t) + (iv *:* gv)
          ig(s, ::) := iv.t; fg(s, ::) := fv.t; gg(s, ::) := gv.t; og(s, ::) := ov.t
          cs(s + 1, ::) := cv.t
          val hv = ov *:* tanh(cv)
          hs(s + 1, ::) := hv.t
          outM(i, d * h until (d + 1) * h) := hv.t
        }
        caches(l)(d) = CellCache(hs, cs, ig, fg, gg, og)
      }
      layerIn(l + 1) =
        if (l < L - 1) { betweenMask(l) = dropMask(t, oW); masked(outM, betweenMask(l)) }
        else outM
    }
    val outputs = layerIn(L) // T x D*h (top layer)

    // ---- attention (Bahdanau or I5 MHA) + fuse ------------------------
    val useMha = cfg.attnHeads > 1
    // Bahdanau caches
    var preT: DenseMatrix[Double] = null
    var attn: DenseVector[Double] = null
    // MHA caches (attention_mechanisms.py:63-99: per-head softmax(QK/√hd)V,
    // residual + layernorm, SUM-over-time pooling). Training applies the
    // wrapper's TWO dropouts (attention_mechanisms.py:64,95): on the
    // attention weights before @V and on the attention output before the
    // residual add — at the wrapper's own attnDropout rate (0.1 in the
    // reference, independent of the inter-layer rate), masks drawn from
    // the same fixed-order dropSeed RNG as the inter-layer masks, so FD
    // checks stay exact at dropout > 0.
    var mQ: DenseMatrix[Double] = null; var mK: DenseMatrix[Double] = null
    var mV: DenseMatrix[Double] = null; var mCtx: DenseMatrix[Double] = null
    var mXhat: DenseMatrix[Double] = null
    var mAttn: Array[DenseMatrix[Double]] = null
    var mAttnMask: Array[DenseMatrix[Double]] = null
    var mResMask: DenseMatrix[Double] = null
    var mInv: Array[Double] = null
    val context: DenseVector[Double] =
      if (useMha) {
        def linRows(n: String): DenseMatrix[Double] = {
          val m = outputs * W(s"${n}_w")
          for (i <- 0 until t) m(i, ::) :+= V(s"${n}_b").t
          m
        }
        mQ = linRows("mq"); mK = linRows("mk"); mV = linRows("mv")
        val hd = oW / cfg.attnHeads
        mCtx = DenseMatrix.zeros[Double](t, oW)
        mAttn = new Array[DenseMatrix[Double]](cfg.attnHeads)
        mAttnMask = new Array[DenseMatrix[Double]](cfg.attnHeads)
        for (hh <- 0 until cfg.attnHeads) {
          val sl = hh * hd until (hh + 1) * hd
          val a = Layers.softmaxRows((mQ(::, sl) * mK(::, sl).t) / math.sqrt(hd.toDouble))
          mAttn(hh) = a // raw weights cached for the softmax backward
          mAttnMask(hh) = attnDropMask(t, t)
          // x = dropout(attention) @ V (attention_mechanisms.py:64)
          mCtx(::, sl) := masked(a, mAttnMask(hh)) * mV(::, sl)
        }
        val ctxO = mCtx * W("mo_w")
        for (i <- 0 until t) ctxO(i, ::) :+= V("mo_b").t
        // q = ln(q + dropout(_q)) (attention_mechanisms.py:95)
        mResMask = attnDropMask(t, oW)
        val res = outputs + masked(ctxO, mResMask)
        // row layernorm with cached xhat + 1/sd (Layers.layerNorm semantics)
        mXhat = DenseMatrix.zeros[Double](t, oW)
        mInv = new Array[Double](t)
        val normed = DenseMatrix.zeros[Double](t, oW)
        for (i <- 0 until t) {
          val row = res(i, ::).t
          val mu = sum(row) / oW
          val centered = row - mu
          val sd = math.sqrt(sum(centered *:* centered) / oW + 1e-5)
          mInv(i) = 1.0 / sd
          mXhat(i, ::) := (centered / sd).t
          normed(i, ::) := ((mXhat(i, ::).t *:* V("mln_g")) + V("mln_b")).t
        }
        // sum-over-time pool
        val pooled = DenseVector.zeros[Double](oW)
        for (i <- 0 until t) pooled :+= normed(i, ::).t
        pooled
      } else {
        // faithful Bahdanau widths (attention_mechanisms.py:108-110): W1 is
        // D*h -> attnW with the input bias only in the opt-in generalized
        // form; the score linear keeps its scalar bias avb
        // (softmax-shift-invariant)
        val pre = DenseMatrix.zeros[Double](t, cfg.attnW)
        for (i <- 0 until t) {
          val v = W("aw1").t * outputs(i, ::).t
          if (cfg.attnInputBias) v :+= V("ab1")
          pre(i, ::) := v.t
        }
        preT = tanh(pre)
        val avb = V("avb")(0)
        val scores = DenseVector.tabulate(t)(i => sum(V("av") *:* preT(i, ::).t) + avb)
        val mx = breeze.linalg.max(scores)
        val ex = exp(scores - mx)
        attn = ex / sum(ex)
        val ctx = DenseVector.zeros[Double](oW)
        for (i <- 0 until t) ctx :+= outputs(i, ::).t * attn(i)
        ctx
      }
    // final states of the LAST layer, fwd then bwd (multi_layer_lstm.py:55-58)
    val hNcat = DenseVector.vertcat((0 until D).map(d => caches(L - 1)(d).hs(t, ::).t): _*)
    // ---- non-seq branch (unified_encoder.py:142-146,262-263) ----------
    // ns cat embeddings -> Linear+ReLU+BN affine (running stats 0/1, see
    // class doc) ; [mlp(ns), ns cont] is PREPENDED to the fuse input
    val nsEmbDims = cfg.nsEmbDims
    val bnScale = 1.0 / math.sqrt(1.0 + 1e-5) // (x-0)/sqrt(1+eps)
    var nsIn: DenseVector[Double] = null
    var nsHPre: DenseVector[Double] = null
    val nsPart = DenseVector.zeros[Double](cfg.nsWidth)
    if (cfg.hasNsMlp) {
      nsIn = DenseVector.zeros[Double](nsEmbDims.sum)
      var off = 0
      for (c <- cfg.nonSeqVocabSizes.indices) {
        val table = lay.mat(s"nsemb$c", p)
        val code = math.min(math.max(if (nsCat != null) nsCat(c) else 0, 0), table.rows - 1)
        nsIn(off until off + nsEmbDims(c)) := table(code, ::).t
        off += nsEmbDims(c)
      }
      nsHPre = (W("ns_w").t * nsIn) + V("ns_b")
      val hNorm = nsHPre.map(v => math.max(v, 0.0) * bnScale)
      nsPart(0 until cfg.nsFinal) := (hNorm *:* V("ns_g")) + V("ns_beta")
    }
    for (c <- 0 until cfg.nNonSeqCont)
      nsPart(cfg.nsFinal + c) = if (nsCont != null) nsCont(c) else 0.0
    // fin_input order matches the reference: [ns, lstm_to_dense(h_T), context]
    // (unified_encoder.py:257-262, multi_layer_lstm.py:55-63)
    val hProj = (W("l2d_w").t * hNcat) + V("l2d_b")
    val fused = DenseVector.vertcat(nsPart, hProj, context)
    val eLin = (W("fuse_w").t * fused) + V("fuse_b")
    val embedding = eLin.map(v => math.max(v, 0.0)) // ReLU
    if (embedOnly) return (0.0, embedding.toArray)

    // ---- heads + loss --------------------------------------------------
    var loss = 0.0
    val dOut = DenseMatrix.zeros[Double](t, oW)
    var dEmb = DenseVector.zeros[Double](cfg.outDim)
    var dcSeed = DenseVector.zeros[Double](h) // decoder dC_0 -> encoder c_T
    val doGrad = grad != null

    if (cfg.hasDecoder) {
      // ---- I13/I14/I15 decoder: hidden init (fused embedding, c_T),
      // per-step heads out_cont = ReLU(lin(tanh(h))) + cat logits ---------
      val dhs = DenseMatrix.zeros[Double](t + 1, h)
      val dcs = DenseMatrix.zeros[Double](t + 1, h)
      dhs(0, ::) := embedding.t
      dcs(0, ::) := caches(L - 1)(0).cs(t, ::) // c_T of the top fwd cell
      val dIn = DenseMatrix.zeros[Double](t, cfg.inDim)
      val dIg = DenseMatrix.zeros[Double](t, h); val dFg = DenseMatrix.zeros[Double](t, h)
      val dGg = DenseMatrix.zeros[Double](t, h); val dOg = DenseMatrix.zeros[Double](t, h)
      val dVec = DenseMatrix.zeros[Double](t, h) // tanh(h_i), lstm_decoder.py:47
      val outCPre = DenseMatrix.zeros[Double](t, math.max(cfg.nCont, 1))
      val outC = DenseMatrix.zeros[Double](t, math.max(cfg.nCont, 1))
      val predCodes = Array.ofDim[Int](t, math.max(nCat, 1))
      val probsCache = Array.ofDim[DenseVector[Double]](t, math.max(nCat, 1))
      for (i <- 0 until t) {
        val x = DenseVector.zeros[Double](cfg.inDim)
        if (i > 0) {
          // teacher: shifted ground truth (model_wrapper.py:183-188);
          // auto: previous prediction re-embedded (model_wrapper.py:74-86)
          var off = 0
          for (c <- 0 until nCat) {
            val table = lay.mat(s"emb$c", p)
            val code0 = if (cfg.decoder == "teacher") catCodes(i - 1)(c) else predCodes(i - 1)(c)
            val code = math.min(math.max(code0, 0), table.rows - 1)
            x(off until off + embDims(c)) := table(code, ::).t
            off += embDims(c)
          }
          for (c <- 0 until cfg.nCont)
            x(embDims.sum + c) =
              if (cfg.decoder == "teacher") cont(i - 1)(c) else outC(i - 1, c)
        }
        dIn(i, ::) := x.t
        val hp = dhs(i, ::).t
        val iv = sigmoid(W("dwi").t * x + W("dui").t * hp + V("dbi"))
        val fv = sigmoid(W("dwf").t * x + W("duf").t * hp + V("dbf"))
        val gv = tanh(W("dwg").t * x + W("dug").t * hp + V("dbg"))
        val ov = sigmoid(W("dwo").t * x + W("duo").t * hp + V("dbo"))
        val cv = (fv *:* dcs(i, ::).t) + (iv *:* gv)
        dIg(i, ::) := iv.t; dFg(i, ::) := fv.t; dGg(i, ::) := gv.t; dOg(i, ::) := ov.t
        dcs(i + 1, ::) := cv.t
        dhs(i + 1, ::) := (ov *:* tanh(cv)).t
        val d = tanh(dhs(i + 1, ::).t)
        dVec(i, ::) := d.t
        for (c <- 0 until nCat) {
          val w = W(s"decCat${c}_w"); val b = V(s"decCat${c}_b")
          val logits = (w.t * d) + b
          val lmx = breeze.linalg.max(logits)
          val e = exp(logits - lmx)
          val probs = e / sum(e)
          probsCache(i)(c) = probs
          predCodes(i)(c) = breeze.linalg.argmax(logits)
          val y = math.min(math.max(catCodes(i)(c), 0), w.cols - 1)
          loss += -math.log(math.max(probs(y), 1e-12)) / t
        }
        if (cfg.nCont > 0) {
          val pre = (W("decCont_w").t * d) + V("decCont_b")
          outCPre(i, ::) := pre.t
          val oc = pre.map(v => math.max(v, 0.0)) // out_cont = relu(lin(d))
          outC(i, ::) := oc.t
          val err = oc - DenseVector.tabulate(cfg.nCont)(j => cont(i)(j))
          loss += sum(err *:* err) / (2.0 * t)
        }
      }
      // auto mode: decode the non-seq features from the fused embedding
      // (model_wrapper.py:55-58; losses :114-118) — MSE on ns cont, CE per
      // ns cat; gradients feed dEmb alongside the decoder's h_0 seed
      if (cfg.decoder == "auto") {
        if (cfg.nNonSeqCont > 0) {
          val predNs = (W("nsDecCont_w").t * embedding) + V("nsDecCont_b")
          val errNs = predNs - DenseVector.tabulate(cfg.nNonSeqCont)(j =>
            if (nsCont != null) nsCont(j) else 0.0)
          loss += sum(errNs *:* errNs) / 2.0
          if (doGrad) {
            lay.mat("nsDecCont_w", grad) :+= embedding * errNs.t
            lay.vec("nsDecCont_b", grad) :+= errNs
            dEmb :+= W("nsDecCont_w") * errNs
          }
        }
        for (c <- cfg.nonSeqVocabSizes.indices) {
          val w = W(s"nsDecCat${c}_w"); val b = V(s"nsDecCat${c}_b")
          val logits = (w.t * embedding) + b
          val lmx = breeze.linalg.max(logits)
          val e = exp(logits - lmx)
          val probs = e / sum(e)
          val y = math.min(math.max(if (nsCat != null) nsCat(c) else 0, 0), w.cols - 1)
          loss += -math.log(math.max(probs(y), 1e-12))
          if (doGrad) {
            val dLogits = probs.copy
            dLogits(y) -= 1.0
            lay.mat(s"nsDecCat${c}_w", grad) :+= embedding * dLogits.t
            lay.vec(s"nsDecCat${c}_b", grad) :+= dLogits
            dEmb :+= w * dLogits
          }
        }
      }
      if (!doGrad) return (loss, embedding.toArray)
      // ---- decoder backward (reverse BPTT, input-chain routing) --------
      var ddhNext = DenseVector.zeros[Double](h)
      var ddcNext = DenseVector.zeros[Double](h)
      val dOutCExtra = DenseMatrix.zeros[Double](t, math.max(cfg.nCont, 1))
      for (i <- (t - 1) to 0 by -1) {
        val d = dVec(i, ::).t
        val dD = DenseVector.zeros[Double](h)
        for (c <- 0 until nCat) {
          val w = W(s"decCat${c}_w")
          val y = math.min(math.max(catCodes(i)(c), 0), w.cols - 1)
          val dLogits = probsCache(i)(c).copy
          dLogits(y) -= 1.0
          dLogits :/= t.toDouble
          lay.mat(s"decCat${c}_w", grad) :+= d * dLogits.t
          lay.vec(s"decCat${c}_b", grad) :+= dLogits
          dD :+= w * dLogits
        }
        if (cfg.nCont > 0) {
          val err = DenseVector.tabulate(cfg.nCont)(j => outC(i, j) - cont(i)(j))
          val dOc = (err / t.toDouble) + dOutCExtra(i, ::).t
          val dPre = DenseVector.tabulate(cfg.nCont)(j =>
            if (outCPre(i, j) > 0) dOc(j) else 0.0)
          lay.mat("decCont_w", grad) :+= d * dPre.t
          lay.vec("decCont_b", grad) :+= dPre
          dD :+= W("decCont_w") * dPre
        }
        val dh = (dD *:* (1.0 - (d *:* d))) + ddhNext
        val cv = dcs(i + 1, ::).t
        val tc = tanh(cv)
        val ov = dOg(i, ::).t; val iv = dIg(i, ::).t
        val fv = dFg(i, ::).t; val gv = dGg(i, ::).t
        val dO = dh *:* tc *:* ov *:* (1.0 - ov)
        val dC = (dh *:* ov *:* (1.0 - (tc *:* tc))) + ddcNext
        val dF = dC *:* dcs(i, ::).t *:* fv *:* (1.0 - fv)
        val dI = dC *:* gv *:* iv *:* (1.0 - iv)
        val dG = dC *:* iv *:* (1.0 - (gv *:* gv))
        val x = dIn(i, ::).t
        val hp = dhs(i, ::).t
        for ((gate, dGate) <- Seq(("i", dI), ("f", dF), ("g", dG), ("o", dO))) {
          lay.mat(s"dw$gate", grad) :+= x * dGate.t
          lay.mat(s"du$gate", grad) :+= hp * dGate.t
          lay.vec(s"db$gate", grad) :+= dGate
        }
        val dX = W("dwi") * dI + W("dwf") * dF + W("dwg") * dG + W("dwo") * dO
        ddhNext = W("dui") * dI + W("duf") * dF + W("dug") * dG + W("duo") * dO
        ddcNext = dC *:* fv
        if (i > 0) {
          // route input grad to its producers: embedding-table rows (the
          // looked-up — teacher truth / auto argmax — codes) and, in auto
          // mode, the previous step's out_cont through its ReLU
          var off = 0
          for (c <- 0 until nCat) {
            val tableG = lay.mat(s"emb$c", grad)
            val code0 = if (cfg.decoder == "teacher") catCodes(i - 1)(c) else predCodes(i - 1)(c)
            val code = math.min(math.max(code0, 0), tableG.rows - 1)
            tableG(code, ::) :+= dX(off until off + embDims(c)).t
            off += embDims(c)
          }
          if (cfg.decoder == "auto")
            for (c <- 0 until cfg.nCont)
              dOutCExtra(i - 1, c) += dX(embDims.sum + c)
        }
      }
      // seeds into the encoder: h_0 = fused embedding, c_0 = encoder c_T
      dEmb :+= ddhNext
      dcSeed = ddcNext
    } else if (cfg.hasChurn) {
      // ---- I16 churn fine-tune: BCE-with-logits sigmoid head on the
      // fused embedding, gradients through the UNFROZEN encoder
      // (ChurnModel.run, model_wrapper.py:140-155) ---------------------
      val wc = W("churn_w")(::, 0)
      val z = sum(wc *:* embedding) + V("churn_b")(0)
      // numerically stable: max(z,0) - z*y + log(1 + exp(-|z|))
      loss += math.max(z, 0.0) - z * label + math.log1p(math.exp(-math.abs(z)))
      if (doGrad) {
        val dZ = sigmoid(z) - label
        lay.mat("churn_w", grad)(::, 0) :+= embedding * dZ
        lay.vec("churn_b", grad)(0) += dZ
        dEmb :+= wc * dZ
      }
    } else {
    for (c <- 0 until nCat) {
      val w = W(s"headCat${c}_w"); val b = V(s"headCat${c}_b")
      for (i <- 0 until t) {
        val logits = (w.t * outputs(i, ::).t) + b
        val lmx = breeze.linalg.max(logits)
        val e = exp(logits - lmx)
        val probs = e / sum(e)
        val y = math.min(math.max(catCodes(i)(c), 0), w.cols - 1)
        loss += -math.log(math.max(probs(y), 1e-12)) / t
        if (doGrad) {
          val dLogits = probs.copy; dLogits(y) -= 1.0; dLogits :/= t.toDouble
          lay.mat(s"headCat${c}_w", grad) :+= outputs(i, ::).t * dLogits.t
          lay.vec(s"headCat${c}_b", grad) :+= dLogits
          dOut(i, ::) :+= (w * dLogits).t
        }
      }
    }
    if (cfg.nCont > 0) {
      val w = W("headCont_w"); val b = V("headCont_b")
      for (i <- 0 until t) {
        val pred = (w.t * outputs(i, ::).t) + b
        val err = pred - DenseVector.tabulate(cfg.nCont)(j => cont(i)(j))
        loss += sum(err *:* err) / (2.0 * t)
        if (doGrad) {
          val dPred = err / t.toDouble
          lay.mat("headCont_w", grad) :+= outputs(i, ::).t * dPred.t
          lay.vec("headCont_b", grad) :+= dPred
          dOut(i, ::) :+= (w * dPred).t
        }
      }
      // pooled head: reconstruct the mean cont vector from the embedding
      val meanCont = DenseVector.tabulate(cfg.nCont)(j =>
        (0 until t).map(i => cont(i)(j)).sum / t)
      val wp = W("headPool_w"); val bp = V("headPool_b")
      val predP = (wp.t * embedding) + bp
      val errP = predP - meanCont
      loss += sum(errP *:* errP) / 2.0
      if (doGrad) {
        lay.mat("headPool_w", grad) :+= embedding * errP.t
        lay.vec("headPool_b", grad) :+= errP
        dEmb :+= wp * errP
      }
    }
    }
    if (!doGrad) return (loss, embedding.toArray)

    // ---- backward: fuse + non-seq + attention -------------------------
    val dELin = dEmb *:* eLin.map(v => if (v > 0) 1.0 else 0.0) // ReLU'
    lay.mat("fuse_w", grad) :+= fused * dELin.t
    lay.vec("fuse_b", grad) :+= dELin
    val dFused = W("fuse_w") * dELin
    val nsW = cfg.nsWidth
    val dHProj = dFused(nsW until nsW + h)
    val dContext = dFused(nsW + h until nsW + h + oW)
    if (cfg.hasNsMlp) {
      // through the BN affine (gamma * hNorm + beta), the frozen-stat
      // normalize, ReLU, the ns linear, and the ns embedding-table rows
      val dBn = dFused(0 until cfg.nsFinal)
      val hNorm = nsHPre.map(v => math.max(v, 0.0) * bnScale)
      lay.vec("ns_g", grad) :+= dBn *:* hNorm
      lay.vec("ns_beta", grad) :+= dBn
      val dHPre = DenseVector.tabulate(cfg.nsFinal)(j =>
        if (nsHPre(j) > 0) dBn(j) * V("ns_g")(j) * bnScale else 0.0)
      lay.mat("ns_w", grad) :+= nsIn * dHPre.t
      lay.vec("ns_b", grad) :+= dHPre
      val dNsIn = W("ns_w") * dHPre
      var off = 0
      for (c <- cfg.nonSeqVocabSizes.indices) {
        val tableG = lay.mat(s"nsemb$c", grad)
        val code = math.min(math.max(if (nsCat != null) nsCat(c) else 0, 0), tableG.rows - 1)
        tableG(code, ::) :+= dNsIn(off until off + nsEmbDims(c)).t
        off += nsEmbDims(c)
      }
    }
    lay.mat("l2d_w", grad) :+= hNcat * dHProj.t
    lay.vec("l2d_b", grad) :+= dHProj
    // grad of the concatenated final states [h_T fwd ; h_T bwd]; seeds each
    // direction's BPTT at its last processing step
    val dHNcat = W("l2d_w") * dHProj
    if (useMha) {
      // pooled = Σ_i normed_i => every row sees the same dContext
      // layernorm backward per row
      val dRes = DenseMatrix.zeros[Double](t, oW)
      for (i <- 0 until t) {
        val xhat = mXhat(i, ::).t
        lay.vec("mln_g", grad) :+= dContext *:* xhat
        lay.vec("mln_b", grad) :+= dContext
        val dXhat = dContext *:* V("mln_g")
        val s1 = sum(dXhat)
        val s2 = sum(dXhat *:* xhat)
        dRes(i, ::) := ((dXhat * oW.toDouble - s1 - (xhat * s2)) * (mInv(i) / oW)).t
      }
      // res = outputs + drop(ctx * mo + b): residual + output projection,
      // with the wrapper's residual-branch dropout routing the grads
      dOut :+= dRes
      val dCtxO = if (mResMask == null) dRes else dRes *:* mResMask
      lay.mat("mo_w", grad) :+= mCtx.t * dCtxO
      for (i <- 0 until t) lay.vec("mo_b", grad) :+= dCtxO(i, ::).t
      val dCtx = dCtxO * W("mo_w").t
      // per-head attention backward (ctx used the DROPPED weights)
      val hd = oW / cfg.attnHeads
      val dQ = DenseMatrix.zeros[Double](t, oW)
      val dK = DenseMatrix.zeros[Double](t, oW)
      val dV = DenseMatrix.zeros[Double](t, oW)
      for (hh <- 0 until cfg.attnHeads) {
        val sl = hh * hd until (hh + 1) * hd
        val a = mAttn(hh)
        val aDrop = if (mAttnMask(hh) == null) a else a *:* mAttnMask(hh)
        val dCtxH = dCtx(::, sl)
        dV(::, sl) :+= aDrop.t * dCtxH
        val dADrop = dCtxH * mV(::, sl).t
        val dA = if (mAttnMask(hh) == null) dADrop else dADrop *:* mAttnMask(hh)
        // softmax-rows backward
        val dS = DenseMatrix.zeros[Double](t, t)
        for (i <- 0 until t) {
          val ai = a(i, ::).t
          val dai = dA(i, ::).t
          val dot = sum(ai *:* dai)
          dS(i, ::) := ((dai - dot) *:* ai).t
        }
        dS :/= math.sqrt(hd.toDouble)
        dQ(::, sl) :+= dS * mK(::, sl)
        dK(::, sl) :+= dS.t * mQ(::, sl)
      }
      // q/k/v projections: X * W + b
      for ((n, dM) <- Seq(("mq", dQ), ("mk", dK), ("mv", dV))) {
        lay.mat(s"${n}_w", grad) :+= outputs.t * dM
        for (i <- 0 until t) lay.vec(s"${n}_b", grad) :+= dM(i, ::).t
        dOut :+= dM * W(s"${n}_w").t
      }
    } else {
      // context = sum a_i out_i
      val dAttn = DenseVector.tabulate(t)(i => sum(dContext *:* outputs(i, ::).t))
      for (i <- 0 until t) dOut(i, ::) :+= (dContext * attn(i)).t
      // softmax backward
      val dotA = sum(attn *:* dAttn)
      val dScores = (dAttn - dotA) *:* attn
      // scores_i = av . tanh(pre_i) + avb (the avb grad is sum dScores = 0
      // by softmax shift invariance; accumulated anyway for truthfulness)
      lay.vec("avb", grad)(0) += sum(dScores)
      for (i <- 0 until t) {
        val dPreT = V("av") * dScores(i)
        lay.vec("av", grad) :+= preT(i, ::).t * dScores(i)
        val dPre = dPreT *:* (1.0 - (preT(i, ::).t *:* preT(i, ::).t))
        lay.mat("aw1", grad) :+= outputs(i, ::).t * dPre.t
        if (cfg.attnInputBias) lay.vec("ab1", grad) :+= dPre
        dOut(i, ::) :+= (W("aw1") * dPre).t
      }
    }

    // ---- BPTT: top layer down, each direction in reverse processing
    // order; a layer's input grads become the layer below's output grads --
    var dOutLayer = dOut
    for (l <- (L - 1) to 0 by -1) {
      val inM = layerIn(l)
      val inW = if (l == 0) cfg.inDim else oW
      val dIn = DenseMatrix.zeros[Double](t, inW)
      for (d <- 0 until D) {
        val suf = cfg.cellSuffix(l, d == 1)
        val cc = caches(l)(d)
        var dhNext =
          if (l == L - 1) dHNcat(d * h until (d + 1) * h).copy
          else DenseVector.zeros[Double](h)
        var dcNext = // decoder c_0 = encoder top-fwd c_T (zero otherwise)
          if (l == L - 1 && d == 0) dcSeed else DenseVector.zeros[Double](h)
        for (s <- (t - 1) to 0 by -1) {
          val i = if (d == 0) s else t - 1 - s
          val dhv = dOutLayer(i, d * h until (d + 1) * h).t + dhNext
          val cv = cc.cs(s + 1, ::).t
          val tc = tanh(cv)
          val ov = cc.og(s, ::).t; val iv = cc.ig(s, ::).t
          val fv = cc.fg(s, ::).t; val gv = cc.gg(s, ::).t
          val dO = dhv *:* tc *:* ov *:* (1.0 - ov)
          val dC = (dhv *:* ov *:* (1.0 - (tc *:* tc))) + dcNext
          val dF = dC *:* cc.cs(s, ::).t *:* fv *:* (1.0 - fv)
          val dI = dC *:* gv *:* iv *:* (1.0 - iv)
          val dG = dC *:* iv *:* (1.0 - (gv *:* gv))
          val x = inM(i, ::).t
          val hp = cc.hs(s, ::).t
          for ((gate, dGate) <- Seq(("i", dI), ("f", dF), ("g", dG), ("o", dO))) {
            lay.mat(s"w$gate$suf", grad) :+= x * dGate.t
            lay.mat(s"u$gate$suf", grad) :+= hp * dGate.t
            lay.vec(s"b$gate$suf", grad) :+= dGate
          }
          dIn(i, ::) :+= (W(s"wi$suf") * dI + W(s"wf$suf") * dF +
            W(s"wg$suf") * dG + W(s"wo$suf") * dO).t
          dhNext = W(s"ui$suf") * dI + W(s"uf$suf") * dF +
            W(s"ug$suf") * dG + W(s"uo$suf") * dO
          dcNext = dC *:* fv
        }
      }
      // layer l consumed the MASKED output of layer l-1: route through mask
      dOutLayer = if (l > 0) masked(dIn, betweenMask(l - 1)) else dIn
    }
    // embeddings scatter (dOutLayer is now t x inDim)
    for (i <- 0 until t) {
      var off = 0
      for (c <- 0 until nCat) {
        val tableG = lay.mat(s"emb$c", grad)
        val code = math.min(math.max(catCodes(i)(c), 0), tableG.rows - 1)
        tableG(code, ::) :+= dOutLayer(i, off until off + embDims(c))
        off += embDims(c)
      }
    }
    (loss, embedding.toArray)
  }

  /** Per-(layer, direction) forward caches in processing order. */
  private final case class CellCache(hs: DenseMatrix[Double], cs: DenseMatrix[Double],
      ig: DenseMatrix[Double], fg: DenseMatrix[Double],
      gg: DenseMatrix[Double], og: DenseMatrix[Double])
}
