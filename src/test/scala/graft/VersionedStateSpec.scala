package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import VersionedState.{Keyed, Union}

/** The contracts of [[VersionedState]] on tiny frames: the latest-wins
  * fold with tombstones, the mass-rule compaction, the one-generation
  * gc grace and a commit that throws.
  */
class VersionedStateSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val keyed =
    Keyed("kv", "k", "k BIGINT, a STRING, b BIGINT", tombstone = Some("a"))

  private def store(massTable: Option[String] = None,
      marker: Option[(String, String)] = None): (String, VersionedState) = {
    val dir = Files.createTempDirectory("vstate").toString
    (dir, new VersionedState(dir, Seq(keyed, Union("u", "x BIGINT")), massTable,
      marker))
  }

  private def rows(kv: (Long, Option[String], Option[Long])*): DataFrame = {
    import spark.implicits._
    kv.toDF("k", "a", "b")
  }

  private def write(vs: VersionedState, v: Int, kv: DataFrame): Unit = {
    import spark.implicits._
    kv.write.mode("overwrite").parquet(vs.path("kv", v))
    Seq(v.toLong).toDF("x").write.mode("overwrite").parquet(vs.path("u", v))
  }

  private def kvOf(df: DataFrame): Map[Long, (String, Long)] =
    df.collect().map(r => r.getAs[Long]("k") ->
      (r.getAs[String]("a"), r.getAs[Long]("b"))).toMap

  private def unionOf(df: DataFrame): Set[Long] =
    df.collect().map(_.getLong(0)).toSet

  private def live(n: Long): (Long, Option[String], Option[Long]) =
    (n, Some(s"a$n"), Some(n * 10))

  test("keyed reads fold latest-wins and drop tombstones") {
    val (_, vs) = store()
    assert(!vs.initialized && vs.versions == (0, 0))
    vs.commit(spark)(write(vs, _, rows(live(1), live(2), live(3))))
    vs.commit(spark)(write(vs, _, rows((2L, Some("b2"), Some(21L)),
      (3L, None, None))))
    vs.commit(spark)(write(vs, _, rows((3L, Some("c3"), Some(33L)),
      live(4), (1L, None, None))))
    assert(vs.versions == (3, 1))
    assert(kvOf(vs.read(spark, "kv")) ==
      Map(2L -> ("b2", 21L), 3L -> ("c3", 33L), 4L -> ("a4", 40L)))
    assert(vs.read(spark, "kv").columns.toSeq == keyed.columns)
    assert(unionOf(vs.read(spark, "u")) == Set(1L, 2L, 3L))
  }

  test("a store with no pointer reads as empty relations of its schemas") {
    val (_, vs) = store()
    Seq("kv" -> keyed.schema, "u" -> Union("u", "x BIGINT").schema).foreach {
      case (t, schema) =>
        val df = vs.read(spark, t)
        assert(df.schema == schema)
        assert(df.queryExecution.optimizedPlan.isInstanceOf[
          org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
        assert(df.collect().isEmpty)
    }
  }

  test("the mass rule compacts every table into a new base and reads " +
      "are equal before and after") {
    val (dir, vs) = store(massTable = Some("kv"))
    vs.commit(spark)(write(vs, _, rows((1L to 10L).map(live): _*)))
    // 2 delta rows against a 10-row base: under 0.3, stays a delta
    vs.commit(spark)(write(vs, _, rows((1L, None, None), live(11))))
    assert(vs.versions == (2, 1))
    // 4 delta rows > 3: the commit compacts into v4
    vs.commit(spark)(write(vs, _, rows((2L, Some("x"), Some(2L)), live(12))))
    assert(vs.versions == (4, 4))
    val after = (kvOf(vs.read(spark, "kv")), unionOf(vs.read(spark, "u")))
    // the deltas are still on disk: resolve them as a pre-compaction
    // reader would
    StateFiles.writePointer(dir, 3, 1)
    val before = (kvOf(vs.read(spark, "kv")), unionOf(vs.read(spark, "u")))
    StateFiles.writePointer(dir, 4, 4)
    assert(before == after)
    assert(after._1.size == 11 && !after._1.contains(1L) &&
      after._1(2L) == ("x", 2L))
    assert(after._2 == Set(1L, 2L, 3L))
    Seq("kv", "u").foreach(t =>
      assert(Files.exists(Paths.get(vs.path(t, 4)))))
  }

  test("gc keeps the previous generation: a reader that resolved the " +
      "old pointer still collects") {
    val (_, vs) = store()
    vs.commit(spark)(write(vs, _, rows(live(1))))
    // maxDeltas = 1: every delta commit compacts at once
    vs.commit(spark, maxDeltas = 1)(write(vs, _, rows(live(2))))
    assert(vs.versions == (3, 3))
    val reader = vs.read(spark, "kv") // resolves base v3
    vs.commit(spark, maxDeltas = 1)(write(vs, _, rows(live(3))))
    assert(vs.versions == (5, 5))
    Seq(1, 2).foreach(v => assert(!Files.exists(Paths.get(vs.path("kv", v)))))
    assert(Files.exists(Paths.get(vs.path("kv", 3))))
    assert(kvOf(reader).keySet == Set(1L, 2L),
      "a reader of the previous base must still collect")
    vs.commit(spark, maxDeltas = 1)(write(vs, _, rows(live(4))))
    assert(vs.versions == (7, 7))
    Seq(3, 4).foreach(v => assert(!Files.exists(Paths.get(vs.path("kv", v)))))
    assert(kvOf(vs.read(spark, "kv")).keySet == Set(1L, 2L, 3L, 4L))
    assert(vs.gc() == 4, "an explicit gc drops v5 and v6 of both tables")
  }

  test("a commit block that throws leaves the pointer and marker unmoved") {
    val (dir, vs) = store(marker = Some("_FORMAT" -> "test-v1"))
    intercept[IllegalStateException] {
      vs.commit(spark) { v =>
        write(vs, v, rows(live(1)))
        throw new IllegalStateException("crash before the flip")
      }
    }
    assert(!vs.initialized && !Files.exists(Paths.get(dir, "_FORMAT")))
    vs.commit(spark)(write(vs, _, rows(live(1))))
    intercept[IllegalStateException] {
      vs.commit(spark) { v =>
        write(vs, v, rows(live(2)))
        throw new IllegalStateException("crash before the flip")
      }
    }
    assert(vs.versions == (1, 1))
    assert(kvOf(vs.read(spark, "kv")).keySet == Set(1L))
    // the replay overwrites the orphan v2
    vs.commit(spark)(write(vs, _, rows(live(3))))
    assert(vs.versions == (2, 1))
    assert(kvOf(vs.read(spark, "kv")).keySet == Set(1L, 3L))
    // another layout's marker fails loudly at pointer resolution
    StateFiles.writeMeta(dir, "_FORMAT", "test-v0")
    intercept[IllegalStateException](vs.read(spark, "kv"))
  }
}
