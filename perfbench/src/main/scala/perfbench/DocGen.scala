package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

/** Seeded document corpus for the curation workload, with the planted
  * structure its ground truth is derived from.
  *
  * Words are drawn from a Zipf vocabulary of synthetic lowercase words
  * (the English marker words at the top ranks, none of the German,
  * French or Spanish markers), so an English document passes the
  * curation filters by construction and a foreign or short one fails
  * them. Planted on top of the unique English documents:
  *
  *   - exact duplicates: case / whitespace variants of a unique
  *     document (exact dedup keeps the lowest id);
  *   - near-duplicate clusters: one-word substitutions of a unique
  *     document (unigram Jaccard ≈ 0.97), one of them larger than
  *     `TextDedup.DefaultMaxBucketSize`;
  *   - retrieval targets: two marker words that occur in exactly one
  *     document, which a query built from them must rank first.
  *
  * Every planted copy gets a higher id than its original, so the
  * expected curation survivors are exactly the unique English
  * documents.
  */
object DocGen {

  final case class Doc(id: Long, text: String)

  final case class Corpus(
      docs: IndexedSeq[Doc],
      /** ids that must survive `Curation.curate` */
      survivors: Set[Long],
      /** ids the filters or exact dedup must drop */
      dropped: Set[Long],
      /** one-word variants of a survivor, which near-dup dedup drops */
      nearCopies: Set[Long],
      largestCluster: Int,
  )

  final case class Query(qid: Long, text: String, target: Long)

  /** One admission batch: fresh documents plus near-duplicates of
    * curated documents, which the base index must reject. */
  final case class AdmitBatch(docs: IndexedSeq[Doc], nearOfBase: Set[Long], exactPairs: Seq[(Long, Long)])

  private val ForeignMarkers = Set(
    "der", "die", "das", "und", "ist", "nicht", "ein", "eine", "mit", "von",
    "le", "la", "les", "et", "est", "une", "des", "dans", "pour", "que",
    "el", "los", "las", "es", "una", "para", "con", "por", "del", "como")
  private val EnMarkers = IndexedSeq("the", "and", "of", "to", "in", "is", "that", "with", "for", "was")
  private val DeWords = IndexedSeq("der", "die", "das", "und", "ist", "nicht", "ein", "eine", "mit", "von")

  final class Vocab(seed: Long, size: Int) {
    val words: IndexedSeq[String] = {
      val rng = new SplittableRandom(PowerGen.mix(seed, 101L))
      val seen = mutable.LinkedHashSet.empty[String] ++ EnMarkers
      while (seen.size < size) {
        val len = 3 + rng.nextInt(8)
        val w = (0 until len).map(_ => ('a' + rng.nextInt(26)).toChar).mkString
        if (!ForeignMarkers(w) && !w.startsWith("zq")) seen += w
      }
      seen.toIndexedSeq
    }
    /** Zipf(1.05) cumulative weights over ranks. */
    private val cdf: Array[Double] = {
      val w = Array.tabulate(size)(r => 1.0 / math.pow(r + 1.0, 1.05))
      val c = w.scanLeft(0.0)(_ + _).tail
      c.map(_ / c.last)
    }
    def draw(rng: SplittableRandom): String = {
      val u = rng.nextDouble()
      var i = java.util.Arrays.binarySearch(cdf, u)
      if (i < 0) i = -i - 1
      words(math.min(i, size - 1))
    }
  }

  private def words(v: Vocab, rng: SplittableRandom, n: Int): IndexedSeq[String] =
    IndexedSeq.fill(n)(v.draw(rng))

  /** A one-word substitution that is guaranteed to change the word set. */
  private def nearCopy(text: String, rng: SplittableRandom, tag: Long): String = {
    val ws = text.split(' ')
    val pos = rng.nextInt(ws.length)
    ws(pos) = s"zqn${java.lang.Long.toString(tag, 36)}"
    ws.mkString(" ")
  }

  final case class Sizes(unique: Int, foreign: Int, exactCopies: Int, clusters: Int,
      clusterSize: Int, bigCluster: Int, queries: Int)

  def corpus(seed: Long, s: Sizes): (Corpus, IndexedSeq[Query]) = {
    val v = new Vocab(seed, 20000)
    val rng = new SplittableRandom(PowerGen.mix(seed, 202L))
    val docs = mutable.ArrayBuffer.empty[Doc]
    var nextId = 0L
    def add(text: String): Long = { val id = nextId; docs += Doc(id, text); nextId += 1; id }
    // unique English documents; the first `queries` carry two marker words
    val uniqueIds = (0 until s.unique).map { i =>
      val body = words(v, rng, 80 + rng.nextInt(120))
      val text =
        if (i < s.queries) (body :+ s"zqa$i" :+ s"zqb$i").mkString(" ")
        else body.mkString(" ")
      add(text)
    }
    val queries = (0 until s.queries).map { i =>
      Query(i.toLong, s"zqa$i ${v.draw(rng)} zqb$i ${v.draw(rng)}", uniqueIds(i))
    }
    // documents the filters reject: German, Chinese, too short
    (0 until s.foreign).foreach { i =>
      val text = i % 3 match {
        case 0 => (0 until 60).map(_ => if (rng.nextInt(3) == 0) DeWords(rng.nextInt(DeWords.size)) else v.words(200 + rng.nextInt(5000))).mkString(" ")
        case 1 => (0 until 80).map(_ => (0x4e00 + rng.nextInt(0x5000)).toChar.toString).mkString
        case _ => s"the ${v.words(300 + rng.nextInt(1000))} is"
      }
      add(text)
    }
    val texts = docs.map(_.text)
    // exact duplicates: case and whitespace variants of unique docs
    (0 until s.exactCopies).foreach { i =>
      val src = texts(uniqueIds(s.queries + rng.nextInt(s.unique - s.queries)).toInt)
      add(if (i % 2 == 0) src.toUpperCase else src.replace(" ", "  "))
    }
    val dropped = (s.unique.toLong until nextId).toSet
    // near-duplicate clusters around distinct unique docs
    val clusterSrc = scala.util.Random.javaRandomToRandom(new java.util.Random(PowerGen.mix(seed, 303L)))
      .shuffle((s.queries until s.unique).toIndexedSeq).take(s.clusters + 1)
    var tag = 0L
    val firstNear = nextId
    clusterSrc.zipWithIndex.foreach { case (srcIdx, c) =>
      val n = if (c == 0) s.bigCluster else s.clusterSize
      val src = texts(uniqueIds(srcIdx).toInt)
      (0 until n).foreach { _ => add(nearCopy(src, rng, tag)); tag += 1 }
    }
    val corpus = Corpus(docs.toIndexedSeq, uniqueIds.toSet, dropped, (firstNear until nextId).toSet,
      s.bigCluster)
    (corpus, queries)
  }

  /** Admission batch `b`: `fresh` new documents (two of which are an
    * exact pair) and `near` one-word variants of curated documents. */
  def admitBatch(seed: Long, b: Int, fresh: Int, near: Int, base: IndexedSeq[Doc], idBase: Long): AdmitBatch = {
    val v = new Vocab(seed, 20000)
    val rng = new SplittableRandom(PowerGen.mix(seed, 404L, b.toLong))
    val docs = mutable.ArrayBuffer.empty[Doc]
    var id = idBase
    (0 until fresh).foreach { _ =>
      docs += Doc(id, words(v, rng, 80 + rng.nextInt(120)).mkString(" ")); id += 1
    }
    val pairSrc = docs.head
    docs += Doc(id, pairSrc.text.toUpperCase); id += 1
    val nearIds = (0 until near).map { i =>
      val src = base(rng.nextInt(base.size))
      docs += Doc(id, nearCopy(src.text, rng, 1000000L * (b + 1) + i)); id += 1
      id - 1
    }
    AdmitBatch(docs.toIndexedSeq, nearIds.toSet, Seq(pairSrc.id -> (id - near - 1)))
  }
}
