package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.queries.{FuzzFamilies, FuzzGen}

/** Consistency of the query registry ([[SparkEntry]]) and the fuzz-family
  * registry ([[FuzzFamilies]]) it folds in: no module silently shadows
  * another's key, no promoted fuzz row loses its oracle, and the dump's
  * sweep arms are exactly what the registry derives, and no oracle
  * decodes `events.ts` outside [[Tables.duckEvents]]. Pure registry
  * checks — no query runs.
  */
class RegistrySpec extends AnyFunSuite {

  private def duplicates(keys: Seq[String]): Set[String] =
    keys.groupBy(identity).collect { case (k, ks) if ks.size > 1 => k }.toSet

  test("SparkEntry modules have pairwise-disjoint query and oracle key sets") {
    val queryDups = duplicates(SparkEntry.modules.flatMap(_._1.keys))
    assert(queryDups.isEmpty, s"keys shadowed across modules: $queryDups")
    val oracleDups = duplicates(SparkEntry.modules.flatMap(_._2.keys))
    assert(oracleDups.isEmpty, s"oracles shadowed across modules: $oracleDups")
    // Verify dumps each key's parquet next to its oracle text
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
  }

  test("every q_fuzz_ SparkEntry key has an oracle") {
    val missing = SparkEntry.queries.keySet
      .filter(_.startsWith("q_fuzz_")) -- SparkEntry.oracleSql.keySet
    assert(missing.isEmpty, s"promoted fuzz rows without an oracle: $missing")
  }

  test("every family's promoted and recover rows reach SparkEntry with their oracle") {
    val queries = SparkEntry.queries
    val oracles = SparkEntry.oracleSql
    for (f <- FuzzFamilies.all) {
      assert(f.rows.nonEmpty, s"${f.name} promotes no row")
      assert(f.recoverRows.length == f.recover.size,
        s"${f.name} recover row missing")
      for (a <- f.rows ++ f.recoverRows) {
        assert(queries.contains(a.name), s"${a.name} (${f.name}) not a SparkEntry key")
        assert(oracles.get(a.name).contains(a.oracleSql),
          s"${a.name} (${f.name}) oracle differs from the family's")
      }
    }
  }

  test("the dump's all and recover arms are the registry's, once each") {
    val families = FuzzFamilies.all
    assert(duplicates(families.map(_.name)).isEmpty)
    assert(duplicates(families.map(_.prefix)).isEmpty)
    for (seed <- Seq(1L, 7L)) {
      val all = FuzzDump.arms("all").get(seed).map(_.name)
      assert(all.length == families.length + 4) // + the cdc quad
      assert(duplicates(all).isEmpty)
      assert(all.take(families.length) == families.map(_.arm(seed).name))
      assert(all.drop(families.length) ==
        FuzzDump.arms("cdc").get(seed).map(_.name))
      val recover = FuzzDump.arms("recover").get(seed).map(_.name)
      assert(recover.length == families.count(_.recover.isDefined))
      assert(duplicates(recover).isEmpty)
      assert(recover.forall(_.startsWith("q_fuzz_recover_")))
      for (f <- families)
        assert(FuzzDump.arms(f.name).get(seed).map(_.name) ==
          Seq(s"${f.prefix}$seed"))
      assert(FuzzDump.arms("sql").get(seed).map(a => a.name -> a.oracleSql) ==
        Seq(s"q_fuzz_$seed" -> FuzzGen.sql(seed)))
    }
    assert(FuzzDump.arms("nosuchfamily").isEmpty)
  }

  test("every oracle decodes events.ts only through Tables.duckEvents") {
    val fuzz = for {
      arm <- Seq("all", "recover", "cdc")
      seed <- 1L to 3L
      a <- FuzzDump.arms(arm).get(seed)
    } yield a.name -> a.oracleSql
    for ((name, sql) <- SparkEntry.oracleSql.toSeq ++ fuzz) {
      val rest = sql.replace(Tables.duckEvents, "")
      assert(!rest.contains("epoch_ns(") && !rest.contains("make_timestamp("),
        s"$name decodes events.ts outside Tables.duckEvents")
      // a literal left un-interpolated would reach DuckDB as text
      assert(!rest.contains("${"), s"$name holds an uninterpolated placeholder")
    }
  }
}
