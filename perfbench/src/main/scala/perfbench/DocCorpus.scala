package perfbench

import java.util.SplittableRandom

/** Seeded document corpus for `doc_pipeline`. Counts and shapes are
  * fixed; only the words depend on the seed.
  *
  * Planted geometry, besides unrelated random documents:
  *  - exact duplicate groups (2-4 copies of one document);
  *  - one-token near-duplicates (one word replaced in a document of
  *    at least 60 words, so 3-word-shingle Jaccard >= 0.9);
  *  - near-duplicate chains: hop k is a 19-word window starting at
  *    word k of a chain-private word sequence. Neighbouring hops share
  *    16 of 18 shingles (Jaccard 0.89 >= dd10's 0.8 threshold); hops
  *    two apart share 15 of 19 (0.79 < 0.8), so no verified edge
  *    skips a hop. Doc ids rise along each chain, so the minimum label
  *    starts at one end and needs all `chainHops` hops: the
  *    connected-components round count is fixed by `chainHops`. LSH
  *    misses a 0.89 pair with probability ~0.02, which breaks a chain
  *    into shorter pieces; with `chains` parallel chains the round
  *    count changes only if every chain breaks.
  *  - a heavy length tail, every fifth document (dp13's ranked subset).
  */
object DocCorpus {

  final case class Geometry(
      baseDocs: Int,
      exactGroups: Int,
      nearDups: Int,
      chains: Int,
      chainHops: Int) {
    val chainWindow = 19
    def docs: Int = baseDocs + exactGroups * 3 + nearDups +
      chains * (chainHops + 1)
  }

  /** `chain`: the planted chain a document belongs to, or -1. */
  final case class Doc(id: Long, text: String, lang: String, source: String,
      chain: Int = -1)

  private val Langs = Array("en", "de", "fr", "es")
  private val Sources = Array("web", "books", "news", "code", "forum")

  /** One word list for every seed: a per-seed vocabulary changed the
    * corpus's compressed size by up to 8% between seeds. */
  private val Vocabulary: Array[String] = {
    val rng = new SplittableRandom(0x5eedL)
    val n = 4096
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    while (seen.size < n) {
      val len = 3 + rng.nextInt(7)
      seen += (0 until len).map(_ => ('a' + rng.nextInt(26)).toChar).mkString
    }
    seen.toArray
  }

  private final class Gen(seed: Long) {
    val rng = new SplittableRandom(seed)
    val vocab: Array[String] = Vocabulary
    def words(n: Int): Array[String] = Array.fill(n)(vocab(rng.nextInt(vocab.length)))
    def doc(id: Long, ws: Array[String], chain: Int = -1): Doc =
      Doc(id, ws.mkString(" "), Langs(rng.nextInt(Langs.length)),
        Sources(rng.nextInt(Sources.length)), chain)
    /** `ws` with one word (away from both ends) replaced. */
    def oneTokenVariant(ws: Array[String]): Array[String] = {
      val out = ws.clone()
      val i = 3 + rng.nextInt(ws.length - 6)
      var w = out(i)
      while (w == out(i)) w = vocab(rng.nextInt(vocab.length))
      out(i) = w
      out
    }
  }

  def corpus(seed: Long, g: Geometry): IndexedSeq[Doc] = {
    val gen = new Gen(seed)
    val out = scala.collection.mutable.ArrayBuffer.empty[Doc]
    def next(ws: Array[String], chain: Int = -1): Array[String] = {
      out += gen.doc(out.size.toLong, ws, chain)
      ws
    }
    // lengths depend on the position only, so the corpus's size in
    // words (and so its stored bytes) is the same for every seed
    val base = (0 until g.baseDocs).map { i =>
      val len = if (i % 5 == 0) 150 + (i * 97) % 250 else 40 + (i * 37) % 50
      next(gen.words(len))
    }
    val longBase = base.filter(_.length >= 60)
    // copy sources are picked by position too, for the same reason
    (0 until g.exactGroups).foreach { i =>
      val ws = base((i * 7 + 1) % base.size)
      (0 until 1 + i % 3).foreach(_ => next(ws))
    }
    (0 until g.nearDups).foreach { i =>
      next(gen.oneTokenVariant(longBase((i * 11 + 3) % longBase.size)))
    }
    (0 until g.chains).foreach { c =>
      val seq = gen.words(g.chainWindow + g.chainHops)
      (0 to g.chainHops).foreach(k => next(seq.slice(k, k + g.chainWindow), c))
    }
    // exact groups hold 1-3 copies; pad to the fixed doc count
    while (out.size < g.docs) next(gen.words(40 + (out.size * 37) % 50))
    out.toIndexedSeq
  }

  /** The index-cycle batch of pass `pass`: half one-token variants of
    * corpus documents (the probe finds them), half new documents. Ids
    * are disjoint from the corpus and from every other pass. */
  def batch(seed: Long, pass: Int, corpus: IndexedSeq[Doc], n: Int): IndexedSeq[Doc] = {
    val gen = new Gen(seed * 1000003L + pass + 1)
    val long = corpus.filter(_.text.count(_ == ' ') >= 59)
    (0 until n).map { i =>
      val id = 1000000000L + pass * 1000L + i
      val ws =
        if (i % 2 == 0) gen.oneTokenVariant(long((pass * 13 + i) % long.size).text.split(" "))
        else gen.words(40 + (pass * 37) % 50)
      gen.doc(id, ws)
    }
  }

  /** Pairs (a < b) whose n-word-shingle sets have Jaccard >= num / den,
    * by exact set comparison over the pairs that share a shingle. Texts
    * are single-space separated and at least n words long, so these are
    * the shingles dd10 compares. */
  def jaccardPairs(docs: Seq[Doc], n: Int, num: Int, den: Int): Seq[(Long, Long)] = {
    val sets = docs.map(d => d.id -> d.text.split(" ").sliding(n).map(_.mkString(" ")).toSet)
    val size = sets.toMap.map { case (id, s) => id -> s.size }
    val shared = scala.collection.mutable.HashMap.empty[(Long, Long), Int]
    sets.flatMap { case (id, s) => s.toSeq.map(_ -> id) }.groupMap(_._1)(_._2).values
      .foreach { ids =>
        val sorted = ids.toSeq.sorted
        for (i <- sorted.indices; j <- i + 1 until sorted.size) {
          val k = (sorted(i), sorted(j))
          shared(k) = shared.getOrElse(k, 0) + 1
        }
      }
    shared.collect { case ((a, b), inter)
      if inter * den >= (size(a) + size(b) - inter) * num => (a, b) }.toSeq.sorted
  }

  /** Connected components of `edges` over `ids`: id -> minimum id of
    * its component. */
  def components(ids: Seq[Long], edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.HashMap.from(ids.map(i => i -> i))
    def find(i: Long): Long = {
      val p = parent(i)
      if (p == i) i else { val r = find(p); parent(i) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(ra.max(rb)) = ra.min(rb)
    }
    ids.map(i => i -> find(i)).toMap
  }
}
