package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite

/** The generators are pure functions of the seed, and the ground truth
  * they declare matches what their files actually contain. */
class GenSpec extends AnyFunSuite {

  private val mapper = new ObjectMapper()

  private def tmp(): Path = Files.createTempDirectory("perfbench-gen")

  private def batch(seed: Long, source: String, dir: Path, model: PowerGen.Model = new PowerGen.Model,
      from: Int = 0, until: Int = 400): PowerGen.Batch =
    PowerGen.writeBatch(seed, source, PowerGen.plants(seed, source, 30), from, until, 0,
      PowerGen.Rates(), dir.resolve(s"$source-$from.jsonl").toString, model)

  private def parse(line: String): Option[JsonNode] =
    try Option(mapper.readTree(line)).filter(_.isObject)
    catch { case _: Exception => None }

  test("the same seed writes byte-identical JSONL; another seed does not") {
    val (a, b) = (tmp(), tmp())
    PowerGen.Sources.foreach { s =>
      val x = Files.readAllBytes(java.nio.file.Paths.get(batch(7, s, a).path))
      val y = Files.readAllBytes(java.nio.file.Paths.get(batch(7, s, b).path))
      assert(java.util.Arrays.equals(x, y), s)
      val z = Files.readAllBytes(java.nio.file.Paths.get(batch(8, s, tmp()).path))
      assert(!java.util.Arrays.equals(x, z), s)
    }
  }

  test("planted corrupt, invalid and duplicate lines match the declared counts") {
    val dir = tmp()
    Seq("entsoe", "ons", "occto").foreach { s =>
      val b = batch(3, s, dir)
      val e = b.expect
      val lines = Files.readAllLines(java.nio.file.Paths.get(b.path)).asScala.toSeq
      assert(lines.size == e.lines)
      assert(lines.count(l => parse(l).isEmpty) == e.corrupt)
      assert(e.corrupt + e.invalid + e.valid == e.lines)
      // every planted rate shows up, at roughly its declared level
      assert(e.corrupt > 0 && e.invalid > 0 && e.inFileDuplicates > 0)
      assert(math.abs(e.corrupt.toDouble / e.lines - PowerGen.Rates().corrupt) < 0.004)
      assert(math.abs(e.inFileDuplicates.toDouble / e.lines - PowerGen.Rates().dup) < 0.015)
      // a fresh warehouse stores one row per distinct valid key
      assert(e.inserted == e.valid - e.inFileDuplicates)
    }
  }

  test("ENTSO-E keys survive their surface forms: suffixes and timestamp formats collapse") {
    val dir = tmp()
    val b = batch(5, "entsoe", dir)
    val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss").withZone(java.time.ZoneOffset.UTC)
    val suffixes = graft.ingest.Enrich.DataTypeSuffixes ++ graft.ingest.Enrich.FuelTypeSuffixes
    val keys = Files.readAllLines(java.nio.file.Paths.get(b.path)).asScala.flatMap(parse).filter { j =>
      j.has("plant_name") && j.get("generation_mw").isNumber && j.get("generation_mw").asDouble >= 0
    }.map { j =>
      val t = j.get("timestamp_ms").asText
      val ms = if (t.forall(_.isDigit)) t.toLong else java.time.Instant.from(fmt.parse(t)).toEpochMilli
      var name = j.get("plant_name").asText
      suffixes.find(x => name.endsWith("_" + x)).foreach(x => name = name.dropRight(x.length + 1))
      suffixes.find(x => name.endsWith("_" + x)).foreach(x => name = name.dropRight(x.length + 1))
      s"$ms|${j.get("country_code").asText}|${j.get("psr_type").asText}|$name"
    }
    assert(keys.toSet.size == b.expect.inserted)
    assert(keys.size == b.expect.valid)
  }

  test("an overlapping re-delivery inserts only the new slots") {
    val dir = tmp()
    val model = new PowerGen.Model
    val first = batch(9, "ons", dir, model, 0, 300)
    val second = batch(9, "ons", dir, model, 200, 400)
    assert(model.rows("ons") == first.expect.inserted + second.expect.inserted)
    assert(second.expect.duplicates > second.expect.inFileDuplicates) // keys already stored
  }

  test("the corpus is seed-stable and carries the planted structure") {
    val sizes = DocGen.Sizes(unique = 300, foreign = 30, exactCopies = 20, clusters = 5, clusterSize = 3,
      bigCluster = graft.text.TextDedup.DefaultMaxBucketSize + 10, queries = 8)
    val (c, q) = DocGen.corpus(11, sizes)
    val (c2, q2) = DocGen.corpus(11, sizes)
    assert(c.docs == c2.docs && q == q2)
    assert(DocGen.corpus(12, sizes)._1.docs != c.docs)
    assert(c.docs.size == 300 + 30 + 20 + 5 * 3 + sizes.bigCluster)
    assert(c.survivors == (0L until 300L).toSet)
    assert(c.dropped == (300L until 350L).toSet)
    assert(c.nearCopies == (350L until c.docs.size.toLong).toSet)
    assert(c.largestCluster > graft.text.TextDedup.DefaultMaxBucketSize)
    val text = c.docs.map(d => d.id -> d.text).toMap
    def norm(s: String) = s.toLowerCase.split("\\s+").mkString(" ")
    // exact copies normalize to a unique document
    val originals = (0L until 300L).map(i => norm(text(i))).toSet
    (330L until 350L).foreach(i => assert(originals(norm(text(i)))))
    // near copies differ from an original in exactly one word
    (350L until c.docs.size.toLong).foreach { i =>
      val w = text(i).split(' ')
      assert((0L until 300L).exists { j =>
        val o = text(j).split(' ')
        o.length == w.length && o.zip(w).count { case (a, b) => a != b } == 1
      })
    }
    // each query's two marker words occur in its target and nowhere else
    q.foreach { qq =>
      val markers = qq.text.split(' ').filter(_.startsWith("zq"))
      assert(markers.length == 2)
      assert(c.docs.filter(d => markers.forall(d.text.split(' ').contains)).map(_.id) == Seq(qq.target))
    }
  }
}
