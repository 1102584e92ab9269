package graft

import org.scalatest.funsuite.AnyFunSuite
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import scala.jdk.CollectionConverters._
import graft.core.{ApiState, JsonLdOptions}
import graft.spark.{ExpandStage, RemoteContextPool, SyntheticDocs}
import Bench.{Attempt, Round}

/** The gate logic of [[Bench]]: round selection, the hw-normalized
  * efficiency, both `suspect` rules, the JSON line the driver parses and
  * the engine ceiling's in-process legs. */
class BenchSpec extends AnyFunSuite {
  private val NaN = Double.NaN
  /** A steal-clean round with N leg `t1`, 4N leg 10 s: ratio t1 / 40. */
  private def round(t1: Double, hw: Double = 0.9, steal: Double = 0.0) = Round(t1, 10.0, hw, steal, steal)

  test("a round with a NaN leg is invalid and never chosen") {
    val r = Round(NaN, 10.0, 0.9, 0.0, 0.0)
    assert(!r.valid && r.ratio.isNaN && !r.clean)
    assert(!Round(30.0, NaN, 0.9, 0.0, 0.0).valid)
    val sel = Bench.select(Seq(r, round(30.0)))
    assert(sel.valid == Seq(round(30.0)) && sel.chosen.contains(round(30.0)))
    assert(Bench.select(Seq(r)).chosen.isEmpty)
  }

  test("the lower-middle clean round by ratio is chosen") {
    val (lo, mid, hi) = (round(28.0), round(30.0), round(32.0))
    assert(Seq(lo, mid, hi).forall(_.clean))
    assert(Bench.select(Seq(hi, lo, mid)).chosen.contains(mid))
    assert(Bench.select(Seq(hi, lo)).chosen.contains(lo))
    // a clean round beats a faster-ratio unclean one
    val dirty = round(36.0, steal = 0.3)
    assert(!dirty.clean && Bench.select(Seq(dirty, lo)).chosen.contains(lo))
    // leg filter: a 4N leg 2x off its median drops the round
    val slow = Round(30.0, 25.0, 0.9, 0.0, 0.0)
    val sel = Bench.select(Seq(lo, mid, slow))
    assert(sel.kept == Seq(lo, mid) && sel.valid.size == 3)
  }

  test("a median-round hw value outside (0.15, 1.05] falls back to the cross-round median") {
    val rounds = Seq(round(30.0, hw = 0.8), round(30.0, hw = 0.6), round(30.0, hw = 1.2), round(30.0, hw = 0.1))
    // plausible readings 0.8 and 0.6: lower middle 0.6
    assert(Bench.hwNormalized(0.4, 0.8, rounds) == ((0.5, 0.6)))
    for (bad <- Seq(1.2, 0.1, 0.15, NaN)) assert(Bench.hwNormalized(0.6, bad, rounds) == ((1.0, 0.6)))
    assert(Bench.hwNormalized(0.6, 1.05, rounds)._1 == 0.6 / 1.05)
    val (norm, cross) = Bench.hwNormalized(0.6, 1.2, Seq(round(30.0, hw = 1.2)))
    assert(norm.isNaN && cross.isNaN)
  }

  test("scaling suspect: steal measured and no round clean, implausible numbers, no evidence") {
    val dirty = Seq(round(30.0, steal = 0.3), round(31.0, steal = 0.25))
    val dSel = Bench.select(dirty)
    assert(dSel.clean.isEmpty && dSel.kept.nonEmpty)
    assert(Bench.scalingSuspect(dSel, 0.75, 0.9, 0.83))
    val cSel = Bench.select(Seq(round(30.0), round(31.0)))
    assert(!Bench.scalingSuspect(cSel, 0.75, 0.9, 0.83))
    // steal unreadable: no clean round, but no steal evidence either
    val blind = Bench.select(Seq(Round(30.0, 10.0, 0.9, NaN, NaN)))
    assert(blind.clean.isEmpty && !Bench.scalingSuspect(blind, 0.75, 0.9, 0.83))
    assert(Bench.scalingSuspect(cSel, 1.1, 0.9, 0.83))
    assert(Bench.scalingSuspect(cSel, 0.75, 1.1, 0.83))
    assert(Bench.scalingSuspect(cSel, 0.75, 0.9, 1.6))
    assert(Bench.scalingSuspect(cSel, 0.75, 0.9, NaN))
    assert(Bench.scalingSuspect(Bench.select(Nil), NaN, NaN, NaN))
  }

  test("the engine ceiling's legs expand the same triples on 1 and on 4 threads") {
    val docs = 2000L
    val state = new ApiState(JsonLdOptions(), RemoteContextPool.loaderFor(RemoteContextPool.pool))
    val expected = (0L until docs).map { i =>
      ExpandStage.expandDoc(SyntheticDocs.generateDoc(i), state, ExpandStage.aliasDictionary)._1.size.toLong
    }.sum
    assert(expected > 0)
    assert(EngineProbe.run(1, 0, docs) == expected)
    assert(EngineProbe.run(4, 0, docs) == expected)
  }

  /** Every key path of a JSON value in document order; array elements share
    * the path `name[]`. */
  private def paths(n: JsonNode, at: String = ""): Seq[String] =
    if (n.isObject) n.properties().asScala.toSeq.flatMap { e =>
      val p = if (at.isEmpty) e.getKey else s"$at.${e.getKey}"
      p +: paths(e.getValue, p)
    }.distinct
    else if (n.isArray) n.elements().asScala.toSeq.flatMap(paths(_, s"$at[]")).distinct
    else Nil

  test("the rendered line has the parent's key paths and truthful constants") {
    // BENCH_r06.json "parsed", minus the keys the driver adds
    // (queries_min, queries_min2_ratio, queries_samples, value_min, median_of)
    val parent = Seq("metric", "value", "unit", "queries") ++ Bench.Headline.map("queries." + _) ++ Seq(
      "sf", "headline_steal", "headline", "headline.warmup_sec", "headline.attempts", "headline.hw_probe",
      "headline.steal", "headline.attempt1_total_sec", "headline.trimmed", "headline.suspect",
      "pipeline", "pipeline.docs", "pipeline.triples", "pipeline.sec", "pipeline.triples_per_sec",
      "scaling", "scaling.mode", "scaling.executors_n", "scaling.executors_4n", "scaling.cores_per_executor",
      "scaling.docs", "scaling.t_n_sec", "scaling.t_4n_sec", "scaling.efficiency_n_to_4n", "scaling.suspect",
      "scaling.spawn_canary_sec", "scaling.spawn_degraded", "scaling.rounds", "scaling.rounds[].cluster_n_sec",
      "scaling.rounds[].cluster_4n_sec", "scaling.rounds[].efficiency", "scaling.rounds[].hw_ceiling",
      "scaling.rounds[].steal_n", "scaling.rounds[].steal_4n", "scaling.rounds[].clean", "scaling.rounds_dropped",
      "scaling.clean_rounds", "scaling.clean_steal_bound", "scaling.hw_ceiling_8_to_32_threads",
      "scaling.hw_ceiling_median_round", "scaling.hw_normalized_efficiency", "scaling.engine_n_sec",
      "scaling.engine_4n_sec", "scaling.engine_ceiling_1x8_vs_4x8_jvms", "scaling.spark_layer_efficiency")
    val results = Bench.Headline.map(_ -> 1.0)
    val attempts = Seq(Attempt(results, 0.5, 0.0, 15.0), Attempt(results.map(q => q._1 -> 0.5), 0.9, 0.01, 8.0))
    val rounds = Seq(Round(22.0, 24.0, 0.95, 0.0, 0.0), round(21.0), round(22.0, hw = 1.3), round(23.0))
    val json = Bench.render("/data/sf0.1", 12.0, attempts, 500000L, 2.0, 1, rounds, 4.0, 2.0)
    val node = new ObjectMapper().readTree(json)
    assert(paths(node) == parent)
    val s = node.get("scaling")
    assert(s.get("mode").asText == "local-cluster-executors" && s.get("cores_per_executor").asInt == 1)
    assert(s.get("spawn_canary_sec").isNull && !s.get("spawn_degraded").asBoolean)
    assert(!node.get("headline").get("trimmed").asBoolean)
    // the clean-window retry is chosen; attempt 1 is still reported
    assert(node.get("value").asDouble == 7.0 && node.get("headline").get("attempt1_total_sec").asDouble == 14.0)
    assert(!node.get("headline").get("suspect").asBoolean && node.get("headline").get("attempts").asInt == 2)
    // clean rounds 0.525, 0.55, 0.575: the middle one, whose hw 1.3 falls back to median(0.9, 0.95)
    assert(s.get("t_n_sec").asDouble == 22.0 && s.get("hw_ceiling_median_round").asDouble == 1.3)
    assert(s.get("hw_ceiling_8_to_32_threads").asDouble == 0.9 && s.get("suspect").asBoolean)
    assert(s.get("hw_normalized_efficiency").asDouble == 0.611 && s.get("clean_rounds").asInt == 3)
    assert(s.get("engine_ceiling_1x8_vs_4x8_jvms").asDouble == 0.5 && s.get("spark_layer_efficiency").asDouble == 1.1)
    val none = new ObjectMapper().readTree(Bench.render("sf", 1.0, attempts.take(1), 0L, NaN, 2, Nil, NaN, NaN))
    assert(none.get("scaling").get("mode").asText == "skipped-budget" && none.get("scaling").get("suspect").asBoolean)
    assert(none.get("headline").get("suspect").asBoolean && none.get("pipeline").get("triples_per_sec").isNull)
    assert(none.get("scaling").get("docs").asLong == 2 * Bench.DocsPerCore)
  }
}
