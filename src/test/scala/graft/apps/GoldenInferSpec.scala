package graft.apps

import graft.SparkSpec

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.security.MessageDigest

/** Golden pin of `InferApp`'s output bytes on a fixture that exercises
  * every corner of the plda line grammar and of the positional output
  * contract: a duplicate word within a line, zero / negative / signed /
  * non-numeric / overflowing counts, an odd trailing token, comment,
  * blank, whitespace-only and CRLF lines, a leading tab, a non-ASCII word,
  * an all-OOV line, and input read in several partitions. A second run to
  * the same output path, over a stale part directory, must reproduce the
  * same bytes. */
class GoldenInferSpec extends SparkSpec {

  private def write(name: String, content: String): String = {
    val p = Files.createTempFile("graft-golden-" + name, ".txt")
    Files.write(p, content.getBytes(UTF_8))
    p.toString
  }

  private def sha(bytes: Array[Byte]): String =
    MessageDigest.getInstance("SHA-256").digest(bytes).map(b => f"$b%02x").mkString

  // K = 3; word ids follow file order
  private val model = write("model",
    "alpha\t40 3 1\nbeta\t2 30 5\ngamma\t1 4 25\ndelta\t9 9 2\nété\t0 7 11\n")

  private val input = write("infer", Seq(
    "alpha 2 beta 1 alpha 3",                     // duplicate word
    "beta 0 gamma -2 delta x gamma 4 alpha +2",   // zero, negative, non-numeric, signed
    "gamma 1 delta 2 epsilon",                    // odd trailing token
    "# comment: no output line",
    "",
    "alpha 1 beta 2\r",                           // CRLF line
    "\r",                                         // CRLF blank line
    "zzz 3 qqq 1",                                // all out of vocabulary
    "   ",                                        // whitespace only: kept, no pairs
    "\talpha 1 été 5",                  // leading tab, non-ASCII word
    "delta 99999999999 beta 3",                   // count overflows Int
    "beta 1 beta 1 gamma 2 zzz 1",
    "été 2 alpha 1 gamma 1 delta 1 beta 1",
    "gamma 3",
    "alpha 1 alpha 1 alpha 1",
    "delta 4 epsilon 2 beta 1"
  ).mkString("\n") + "\n")

  private def infer(out: String): Array[Byte] = {
    InferApp.run(spark, Flags(alpha = 0.1, beta = 0.01, modelFile = model,
      inferenceDataFile = input, inferenceResultFile = out,
      burnInIterations = 5, totalIterations = 12, seed = 31L))
    Files.readAllBytes(Path.of(out))
  }

  test("InferApp output is pinned, partition-independent and rerunnable") {
    val out = Files.createTempFile("graft-golden-out", ".txt").toString
    val first = infer(out)
    val key = "spark.sql.files.maxPartitionBytes"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, "48")
    val second = try {
      assert(spark.read.textFile(input).rdd.getNumPartitions >= 3)
      // a stale part directory from an interrupted run must not leak in
      val stale = Path.of(out + ".parts")
      Files.createDirectories(stale)
      Files.write(stale.resolve("part-99999"), "stale\n".getBytes(UTF_8))
      infer(out)
    } finally prior match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
    assert(!Files.exists(Path.of(out + ".parts")))
    assert(second.sameElements(first))
    val lines = new String(second, UTF_8).split("\n", -1)
    assert(lines.length == 13 + 1 && lines.last.isEmpty, lines.toSeq) // 13 kept lines
    assert(lines(4) == "0 0 0" && lines(5) == "0 0 0") // all-OOV, whitespace only
    assert(sha(second) ==
      "42399cec93f68aaef85e70cba4029c83cd680c3bbcdd518b71810347ca08b4b8")
  }
}
