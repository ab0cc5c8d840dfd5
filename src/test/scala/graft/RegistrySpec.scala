package graft

import org.scalatest.funsuite.AnyFunSuite

/** Driver-contract invariants for the query/oracle registries. These
  * are the silent-shrinkage guards: `Map ++` keeps the LAST binding on
  * a name collision, so two modules registering the same query name
  * would quietly drop one implementation from the verified surface,
  * and a query without an oracle would silently downgrade to the
  * driver's weaker rows-only check.
  */
class RegistrySpec extends AnyFunSuite {

  test("no two modules register the same query name") {
    val all = SparkEntry.queryRegistries.flatMap { case (mod, m) =>
      m.keys.map(_ -> mod)
    }
    val dupes = all.groupBy(_._1).filter(_._2.size > 1)
      .map { case (k, ms) => s"$k <- ${ms.map(_._2).mkString(",")}" }
    assert(dupes.isEmpty, dupes.mkString("; "))
    assert(SparkEntry.queries.size == all.size)
  }

  test("no two modules register the same oracle name") {
    val all = SparkEntry.oracleRegistries.flatMap { case (mod, m) =>
      m.keys.map(_ -> mod)
    }
    val dupes = all.groupBy(_._1).filter(_._2.size > 1)
      .map { case (k, ms) => s"$k <- ${ms.map(_._2).mkString(",")}" }
    assert(dupes.isEmpty, dupes.mkString("; "))
    assert(SparkEntry.oracleSql.size == all.size)
  }

  test("every query has an oracle and every oracle has a query") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert((q diff o).isEmpty, s"queries without oracle: ${q diff o}")
    assert((o diff q).isEmpty, s"oracles without query: ${o diff q}")
  }

  test("bench warmup names are live registry entries") {
    // Bench resolves warmups with `.get` (a missing name must not
    // fail the bench), so a renamed query would silently skip its
    // warmup and the d-family figures would regress to measuring
    // cache state — pin the list to the registry here instead.
    val missing = Bench.WarmupQueries.filterNot(SparkEntry.queries.contains)
    assert(missing.isEmpty, s"warmup names not in registry: $missing")
  }

  test("bench warmup failures render as a parseable JSON object") {
    val failures = Seq(
      "memo:dedup.docsFeed" -> "java.io.IOException: no \"docs\" at C:\\x",
      "q1" -> "org.apache.spark.SparkException: line one\n\tline two")
    val parsed = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Bench.jsonObject(failures))
    assert(parsed.size == 2)
    failures.foreach { case (k, v) => assert(parsed.get(k).asText == v) }
    assert(Bench.jsonObject(Nil) == "{}")
  }

  test("memo warmer registry holds every memoized shared relation") {
    // Bench warms graft.functions.Memo.memoWarmers by iterating the
    // registry (drift-proof by construction); this pins that module
    // init actually registers the known shared relations, so a
    // refactor that bypasses Dedup.memoized (hand-rolled TrieMap
    // cache) is caught instead of silently opting out of warmup.
    require(SparkEntry.queries.nonEmpty) // force module init
    val names = graft.functions.Memo.memoWarmers.keySet
    val expected = Set(
      "dedup.docsFeed", "cdc.eventsFeed", "cdc.w12Feed",
      "dedup.shingleIndex", "dedup.pairStats", "dedup.d3MinhashPairs",
      "dedup.d6Clusters", "dedup.d12ExactSubstring",
      "similarity.ann1Truth", "similarity.assignedCells",
      "similarity.pqSubVectors", "similarity.pqCodebook",
      "similarity.pqCodes",
      "similarity.ann11Rel", "similarity.ann11Sim",
      "similarity.ann12TruthF",
      "text.t7Decontaminate", "text.t14RarityProfile", "text.bpeVocab",
      "text.t24Model", "text.t25Feed",
      "multimodal.blobDir", "multimodal.phashBits",
      "multimodal.m8Pairs", "multimodal.m9Clusters",
      "taskmodes.csvDispatch",
      "pipeline.pipe15Publish", "pipeline.pipe16Setup",
      "pipeline.pipe18Setup", "pipeline.pipe19Inputs",
      "pipeline.pipe20Setup", "pipeline.pipe21Setup")
    // set EQUALITY, not subset: a dropped warmer silently opts its
    // family out of warmup (the r8 drift class), and an unpinned NEW
    // warmer is the same bug waiting for the next refactor — both
    // directions must fail here
    assert(names == expected,
      s"warmup registry drift: missing=${expected.diff(names)} " +
        s"unpinned=${names.diff(expected)}")
  }

  test("within each module, queries and oracles pair up") {
    SparkEntry.queryRegistries.zip(SparkEntry.oracleRegistries).foreach {
      case ((qMod, qs), (oMod, os)) =>
        assert(qMod == oMod)
        assert(qs.keySet == os.keySet,
          s"$qMod: ${qs.keySet diff os.keySet} / ${os.keySet diff qs.keySet}")
    }
  }
}
