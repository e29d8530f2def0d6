package casprbench

/** Workload shape shared by the jobs and the checks; `gen.py` writes the
  * inputs to the same constants. */
object Params {
  /** Prediction date of every event log. */
  val PredTs: String = "2024-06-01 00:00:00"
  val HistoryDays: Int = 90
  val SeqLen: Int = 10
  val MaxCardinality: Int = 30000

  // near_dup: word-level docs, 3-word shingles, 64 minhashes in 16 bands of
  // 4, Jaccard threshold 0.5, bucket cap 200
  val ShingleN = 3
  val MinHashK = 64
  val Bands = 16
  val Tau = 0.5
  val MaxBucket = 200

  /** The distinct lowercased, whitespace-split word n-grams of `text`:
    * the benchmark's own shingle rule (gen.py builds the truth tables with
    * it), used to re-verify every returned pair. */
  def shingles(text: String, n: Int): Set[String] = {
    val w = text.toLowerCase.split("\\s+")
    if (w.length < n) Set.empty
    else (0 to w.length - n).map(i => w.slice(i, i + n).mkString(" ")).toSet
  }

  def jaccard(a: Set[String], b: Set[String]): Double = {
    val inter = a.count(b.contains)
    val union = a.size + b.size - inter
    if (union == 0) 0.0 else inter.toDouble / union
  }
}
