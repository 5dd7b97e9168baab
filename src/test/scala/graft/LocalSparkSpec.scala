package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins [[LocalSpark]]'s env → settings derivation (pure: no second
  * session is built in the spec JVM), and guards the source tree so the
  * per-main session setup and the removed tuning variables cannot
  * return unnoticed. */
class LocalSparkSpec extends AnyFunSuite {

  test("defaults: local[4], 4 partitions, UTC, UI off") {
    val s = LocalSpark.settings(Map.empty)
    assert(s("spark.master") === "local[4]")
    assert(s("spark.sql.shuffle.partitions") === "4")
    assert(s("spark.sql.session.timeZone") === "UTC")
    assert(s("spark.ui.enabled") === "false")
  }

  test("partitions follow SPARK_GRAFT_CPUS unless overridden") {
    val cpus = LocalSpark.settings(Map("SPARK_GRAFT_CPUS" -> "8"))
    assert(cpus("spark.master") === "local[8]")
    assert(cpus("spark.sql.shuffle.partitions") === "8")
    val parts = LocalSpark.settings(Map("SPARK_GRAFT_CPUS" -> "8",
      "SPARK_GRAFT_SHUFFLE_PARTITIONS" -> "256"))
    assert(parts("spark.master") === "local[8]")
    assert(parts("spark.sql.shuffle.partitions") === "256")
  }

  test("a non-numeric or non-positive count fails naming the variable") {
    for (bad <- Seq("eight", "0", "-2", ""); name <- Seq("SPARK_GRAFT_CPUS",
        "SPARK_GRAFT_SHUFFLE_PARTITIONS")) {
      val e = intercept[IllegalArgumentException](
        LocalSpark.settings(Map(name -> bad)))
      assert(e.getMessage.contains(name), e.getMessage)
    }
  }

  test("src/main builds one SparkSession and reads no removed tuning knob") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val texts = {
      val s = Files.walk(Paths.get("src/main"))
      try s.iterator().asScala.map(_.toString).filter(_.endsWith(".scala"))
        .map(f => f -> Files.readString(Paths.get(f))).toSeq
      finally s.close()
    }
    assert(texts.size > 50, s"src/main scan found only ${texts.size} files")
    val builders = texts.flatMap { case (f, t) =>
      Seq.fill("SparkSession.builder".r.findAllIn(t).size)(f) }
    assert(builders === Seq("src/main/scala/graft/LocalSpark.scala"),
      "every main must build its session through graft.LocalSpark")
    for (knob <- Seq("SPARK_GRAFT_ND_TARGET_BUCKET",
        "SPARK_GRAFT_STREAM_PART_BYTES", "SPARK_GRAFT_EVAL_EXACT_MAX")) {
      val users = texts.collect { case (f, t) if t.contains(knob) => f }
      assert(users.isEmpty, s"$knob is a constant now, yet read in $users")
    }
  }
}
