package layerbench

import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {

  private def tmp(): Path = Files.createTempDirectory("layerbench-gen")

  private def digestOf(gen: Path => Unit): String = {
    val d = tmp()
    try { gen(d); Gen.digest(d) } finally Main.deleteTree(d)
  }

  /** Input digest of each workload's generator at a small size. */
  private def digests(seed: Long): Seq[String] = Seq(
    digestOf(Gen.flowSweep(_, seed, 3, 200)),
    digestOf(Gen.logTail(_, seed, 2, 50)),
    digestOf(Gen.curate(_, seed, 300)))

  test("the same seed gives an identical input digest") {
    assert(digests(7) === digests(7))
  }

  test("the held-out seed gives different inputs, reproducibly") {
    val held = digests(Gen.HeldOutSeed)
    assert(held === digests(Gen.HeldOutSeed))
    held.zip(digests(7)).foreach { case (a, b) => assert(a !== b) }
  }

  test("planted facts add up") {
    val d = tmp()
    val sweep = Gen.flowSweep(d.resolve("sweep"), 7, 3, 200)
    assert(sweep.errors + sweep.nonErrorsPerService.values.sum === sweep.lines)
    val c = Gen.curate(d.resolve("curate"), 7, 300)
    Main.deleteTree(d)
    assert(c.exactGroups.forall(_.size >= 2))
    assert(c.nearPairs.forall { case (a, b) => a < b })
    assert(c.exactGroups.flatten.toSet.intersect(c.nearPairs.flatMap(p => Seq(p._1, p._2)).toSet).isEmpty)
  }
}
