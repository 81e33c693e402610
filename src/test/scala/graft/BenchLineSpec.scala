package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** graft.Bench's one JSON line at today's query count: its reader keeps
  * the last 2000 chars of output, so the line must fit 1,980 chars and
  * still carry the per-query mins and the named slow-rep deltas.
  */
class BenchLineSpec extends AnyFunSuite {

  /** 290 queries, r18-shaped: mostly sub-second, a tail up to ~12 s. */
  private def synthetic(nReps: Int): Seq[Seq[(String, Double)]] = {
    val rnd = new scala.util.Random(18)
    val names = (1 to 290).map(i => s"q${i}_synthetic_query")
    val base = names.map(_ => 0.1 + math.pow(rnd.nextDouble(), 3) * 12)
    Seq.fill(nReps)(names.zip(base.map(_ * (0.8 + 0.5 * rnd.nextDouble()))))
      .map(_.sortBy(_._1))
  }

  for (nReps <- Seq(2, 3)) test(s"a 290-query, $nReps-rep result prints a parseable line within budget") {
    val reps = synthetic(nReps)
    val line = Bench.line(reps, (3.86, 2.09), (17.03, 14.79),
      Some("/home/graft/repo/target/bench_reps_latest.json"))
    assert(line.length <= 1980, s"${line.length} chars")
    val j = new ObjectMapper().readTree(line)
    Seq("value", "q_cs_sorted", "reps", "srd_cs").foreach(f => assert(j.has(f), s"no $f in $line"))
    assert(j.get("reps").asInt == nReps)
    val mins = reps.head.indices.map(i => math.rint(reps.map(_(i)._2).min * 100).toLong)
    assert(j.get("q_cs_sorted").elements.asScala.map(_.asLong).toSeq == mins)
    assert(j.get("srd_cs").size == 12)
    assert(j.has("contended") == (nReps == 3))
  }
}
