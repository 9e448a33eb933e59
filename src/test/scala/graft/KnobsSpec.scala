package graft

import org.scalatest.funsuite.AnyFunSuite

/** The engine-knob registry: one declaration per key, the defaults the
  * engine has always used, session-over-table precedence, and loud
  * failures for bad values and unknown keys. Each test works on its own
  * child session, so the shared session's confs are never touched. */
class KnobsSpec extends AnyFunSuite {
  private def session() = TestSpark.spark.newSession()

  test("keys are unique: 23 session keys, 11 with a graft.* table twin") {
    val keys = Knobs.all.map(_.key)
    assert(keys.distinct.size == keys.size, keys.diff(keys.distinct).toString)
    assert(keys.size == 23 && keys.forall(_.startsWith("spark.graft.")))
    val twins = Knobs.all.flatMap(_.tableKey)
    assert(twins.size == 11 && twins.distinct.size == 11)
    Knobs.all.foreach(k => k.tableKey.foreach(t => assert(k.key == s"spark.$t")))
  }

  test("every default equals the value its read site used before the registry") {
    val MiB = 1024L * 1024
    val expected: Map[String, Any] = Map(
      "spark.graft.manifest.checkpointInterval" -> 10,
      "spark.graft.checkpoint.spillBytes" -> 4 * MiB,
      "spark.graft.sidecar.minBytes" -> 256L * 1024,
      "spark.graft.bloom.backfillFilesPerCommit" -> None,
      "spark.graft.bloom.backfillBytesPerCommit" -> 256 * MiB,
      "spark.graft.distributed.minItems" -> 64,
      "spark.graft.dv.maxKeys" -> 10000000L,
      "spark.graft.dv.maxPositions" -> 10000000L,
      "spark.graft.rowops.mode" -> "delta",
      "spark.graft.rangeJoin.enabled" -> true,
      "spark.graft.rangeJoin.maxBands" -> 256L,
      "spark.graft.cc.reliableCheckpoint" -> false,
      "spark.graft.optimizeWrite.enabled" -> false,
      "spark.graft.autoCompact.enabled" -> false,
      "spark.graft.autoCompact.targetBytes" -> 128 * MiB,
      "spark.graft.autoCompact.minDirs" -> 8,
      "spark.graft.autoCompact.maxDirs" -> 64,
      "spark.graft.autoCluster.columns" -> Seq.empty,
      "spark.graft.autoCluster.minBytes" -> 256 * MiB,
      "spark.graft.autoCluster.bits" -> 16,
      "spark.graft.autoCluster.targetBytes" -> 128 * MiB,
      "spark.graft.cdf.enabled" -> false,
      "spark.graft.cdf.keys" -> Seq.empty)
    assert(Knobs.all.map(k => k.key -> k.default).toMap == expected)
    assert(graft.plans.RangeJoinRewrite.BandWidth == 100.0)
    // an unset knob reads as its default through the read path too
    val s = session()
    assert(Knobs.all.forall(k => k(s) == k.default))
  }

  test("a table-backed knob: the session wins both ways, then the table property, then the default") {
    val s = session()
    var reads = 0
    def props = { reads += 1; Map("GRAFT.AUTOCOMPACT.ENABLED" -> "true") }
    assert(Knobs.autoCompact(s, props), "the table property, matched case-insensitively")
    assert(!Knobs.autoCompact(s, Map.empty[String, String]), "no property: the default")
    s.conf.set("spark.graft.autoCompact.enabled", "false")
    reads = 0
    assert(!Knobs.autoCompact(s, props), "the session's false wins over the property")
    assert(reads == 0, "properties are not read when the session sets the knob")
    s.conf.set("spark.graft.autoCompact.enabled", "true")
    assert(Knobs.autoCompact(s, Map("graft.autoCompact.enabled" -> "false")))
  }

  test("a malformed value fails with the knob's key and the value") {
    val s = session()
    s.conf.set("spark.graft.dv.maxKeys", "10k")
    val e = intercept[IllegalArgumentException](graft.ext.Versioned.maxDvKeys(s))
    assert(e.getMessage.contains("spark.graft.dv.maxKeys") && e.getMessage.contains("'10k'"),
      e.getMessage)
    s.conf.set("spark.graft.autoCompact.enabled", "yes")
    val b = intercept[IllegalArgumentException](Knobs.autoCompact(s))
    assert(b.getMessage.contains("spark.graft.autoCompact.enabled") &&
      b.getMessage.contains("'yes'"), b.getMessage)
    // a bad table property names the property it came from
    val t = intercept[IllegalArgumentException](
      Knobs.autoCompactMinDirs(session(), Map("graft.autoCompact.minDirs" -> "eight")))
    assert(t.getMessage.contains("graft.autoCompact.minDirs") &&
      t.getMessage.contains("'eight'"), t.getMessage)
    s.conf.set("spark.graft.rowops.mode", "mor")
    assert(intercept[IllegalArgumentException](Knobs.rowOpsMode(s))
      .getMessage.contains("spark.graft.rowops.mode"))
  }

  test("configure refuses an unknown spark.graft.* key and a malformed known one") {
    val s = session()
    Tables.configure(s) // a clean session passes
    s.conf.set("spark.graft.par.spread", "false") // a deleted knob
    val e = intercept[IllegalArgumentException](Tables.configure(s))
    assert(e.getMessage.contains("spark.graft.par.spread"), e.getMessage)
    s.conf.unset("spark.graft.par.spread")
    s.conf.set("spark.graft.distributed.minItems", "many")
    val m = intercept[IllegalArgumentException](Tables.configure(s))
    assert(m.getMessage.contains("spark.graft.distributed.minItems"), m.getMessage)
    s.conf.set("spark.graft.distributed.minItems", "8")
    Tables.configure(s)
  }

  test("README's knob table lists every key and its table twin") {
    val readme = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("README.md")), "UTF-8")
    val missing = Knobs.all.flatMap(k => (k.key +: k.tableKey.toSeq)
      .filterNot(x => readme.contains(s"`$x`")))
    assert(missing.isEmpty, s"README.md does not list: ${missing.mkString(", ")}")
  }
}
