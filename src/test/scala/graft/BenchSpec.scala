package graft

import org.scalatest.funsuite.AnyFunSuite

/** Bench's comparator, with no Spark session: archive admission, leads on
  * the wall and confirmation by plan counters. */
class BenchSpec extends AnyFunSuite {

  private def row(jobs: Long, stages: Long = 4, shuffle: Long = 1000): Counters =
    Counters(jobs, stages, tasks = 8, shuffleReadBytes = shuffle / 2,
      shuffleWriteBytes = shuffle - shuffle / 2, executorCpuNs = 0, gcMs = 0, cachedRddsLeft = 0)

  private def archive(wall: Double, sf: String = "/data/sf0.1", cpus: Int = 32,
                      ledger: Option[Counters] = None): String =
    s"""{"metric":"total","queries":{"q":$wall},""" +
      ledger.fold("")(c => s""""ledger":{"q":${Bench.ledgerJson(c)}},""") +
      s""""sf":"$sf","cpus":$cpus}"""

  private def judge(wall: Double, now: Counters, archives: String*): Map[String, Bench.Flag] =
    Bench.judge(Map("q" -> wall), Map("q" -> now),
      archives.zipWithIndex.flatMap { case (a, i) => Bench.admit(s"bench_r$i.json", a, "sf0.1", 32).toOption })

  test("a lead with no ledger prior stays a lead") {
    val flags = judge(3.0, row(10), archive(1.0))
    assert(flags("q").ratio === 3.0)
    assert(!flags("q").confirmed)
  }

  test("a lead whose jobs moved against the newest ledger prior is confirmed") {
    // the older archive's ledger matches this run; the newest one's does not
    val flags = judge(3.0, row(12), archive(1.0, ledger = Some(row(12))), archive(1.2, ledger = Some(row(10))))
    assert(flags("q").confirmed)
    assert(flags("q").moved.exists(_.startsWith("jobs 10 -> 12")), flags("q").moved)
    assert(flags("q").ratio === 3.0)
  }

  test("shuffle bytes confirm only past the wall ratio") {
    assert(judge(3.0, row(10, shuffle = 1600), archive(1.0, ledger = Some(row(10)))).apply("q").confirmed)
    assert(!judge(3.0, row(10, shuffle = 1500), archive(1.0, ledger = Some(row(10)))).apply("q").confirmed)
  }

  test("a lead whose counters did not move stays a lead") {
    val flags = judge(3.0, row(10), archive(1.0, ledger = Some(row(10))))
    assert(flags.keySet === Set("q"))
    assert(!flags("q").confirmed)
  }

  test("a wall within the ratio of its trailing minimum is no lead, whatever moved") {
    assert(judge(1.4, row(99), archive(1.0, ledger = Some(row(10)))).isEmpty)
  }

  test("priors at another sf or cpus count, or without a stamp, are ignored") {
    assert(Bench.admit("a", archive(1.0, sf = "/data/sf0.01"), "sf0.1", 32).isLeft)
    assert(Bench.admit("b", archive(1.0, cpus = 8), "sf0.1", 32).isLeft)
    assert(Bench.admit("c", """{"queries":{"q":1.0},"sf":"/data/sf0.1"}""", "sf0.1", 32).isLeft)
    val other = Seq(archive(0.1, sf = "/data/sf0.01", ledger = Some(row(1))), archive(0.1, cpus = 8))
    assert(judge(3.0, row(10), other: _*).isEmpty)
    // the same tables at another mount key together
    assert(Bench.admit("d", archive(1.0, sf = "/mnt/other/sf0.1"), "sf0.1", 32).isRight)
  }

  test("an archive without calib_* fields is admitted, ledger and all") {
    val prior = Bench.admit("bench_r20.json", archive(1.0, ledger = Some(row(7, stages = 9))), "sf0.1", 32)
    assert(prior.map(_.walls) === Right(Map("q" -> 1.0)))
    assert(prior.map(_.ledger("q")) === Right(row(7, stages = 9)))
  }

  test("a zero prior wall never makes a lead") {
    assert(judge(3.0, row(10), archive(0.0)).isEmpty)
  }
}
