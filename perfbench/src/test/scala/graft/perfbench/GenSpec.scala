package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path, Paths}

/** The generators are pure functions of the seed, and the planted shares
  * come out as specified. Run with `sbt test` from `perfbench/`.
  */
class GenSpec extends AnyFunSuite {
  private def tmp(): Path = {
    val root = Paths.get("..", ".bench_build", "test-tmp")
    Files.createDirectories(root)
    Files.createTempDirectory(root, "gen")
  }
  private def bytes(p: Path): Array[Byte] = Files.readAllBytes(p)

  test("the same seed writes byte-identical event files") {
    val (a, b) = (tmp(), tmp())
    Seq(a, b).foreach(d => Gen.writeEvents(s"$d/stg", s"$d/src", "f.parquet",
      Gen.events(42L, 1, 3, 500L, 100)))
    assert(bytes(a.resolve("src/f.parquet")).sameElements(bytes(b.resolve("src/f.parquet"))))
    assert(Gen.events(42L, 1, 3, 500L, 100) != Gen.events(43L, 1, 3, 500L, 100))
  }

  test("event ids are unique across tenants and files") {
    val ids = for (c <- 0 until 4; f <- 0 until 5)
      yield Gen.events(7L, c, f, f * 100L, 100).map(_.eventId)
    val all = ids.flatten
    assert(all.distinct.size == all.size)
  }

  test("the same seed writes byte-identical document files") {
    val base = Gen.baseCorpus(9L, 200)
    val (a, b) = (tmp(), tmp())
    Seq(a, b).foreach(d => Gen.writeDocs(s"$d/stg", s"$d/src", "d.parquet",
      Gen.arriving(9L, base, 2, 300)(1)))
    assert(bytes(a.resolve("src/d.parquet")).sameElements(bytes(b.resolve("src/d.parquet"))))
  }

  test("planted shares come out as specified") {
    val base = Gen.baseCorpus(5L, 300)
    val files = Gen.arriving(5L, base, 3, 600)
    files.zipWithIndex.foreach { case (docs, f) =>
      assert(docs.size == 600)
      Gen.Shares.foreach { case (k, pm) =>
        val want = if (k == Gen.Kind.NearArriving && f == 0) 0 else 600 * pm / 1000
        assert(docs.count(_.kind == k) == want, s"file $f kind $k")
      }
    }
    val ids = files.flatten.map(_.id)
    assert(ids.distinct.size == ids.size && ids.min >= base.size)
    val earlier = files.head.filter(_.fresh).map(_.text).toSet
    files(1).filter(_.kind == Gen.Kind.NearArriving).foreach { d =>
      assert(earlier.exists(t => d.text.startsWith(t + " ")))
    }
    files.flatten.filter(_.kind == Gen.Kind.ExactBase).foreach(d => assert(base.exists(_.text == d.text)))
  }

  test("the minhash rule always catches an exact copy") {
    val base = Gen.baseCorpus(3L, 50)
    val idx = new LshSpec.Index
    base.foreach(d => idx.add(LshSpec.sig(d.text)))
    base.foreach(d => assert(idx.isNearDup(LshSpec.sig(d.text), 0.6)))
    val fresh = Gen.arriving(3L, base, 1, 100).head.filter(_.fresh)
    assert(fresh.count(d => idx.isNearDup(LshSpec.sig(d.text), 0.6)) == 0)
  }

  test("the receiver reads the payload id off a webhook body") {
    val body = """{"data":[{"Id":"R1234","subscriptionTopic":"/data/x","instanceUrl":"u"}]}"""
    assert(Receiver.payloadId(body.getBytes("UTF-8")) == 1234L)
    assert(Receiver.payloadId("{}".getBytes("UTF-8")) == -1L)
  }
}
