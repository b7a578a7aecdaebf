package graft.etl

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Properties}
import java.nio.file.{Files, Paths}

/** The bloom tag — range ∩ bloom evaluated inside a statement's own
  * checkpoint over the driver-side index snapshot — returns exactly
  * the files a reference tagger returns: a broadcast nested-loop join
  * of the batch against index rows freshly computed for every live
  * file (the join-based tag the engine used before; a healed index
  * row equals a fresh one, since files are immutable). Covers random
  * batches over composite keys, saturated filters (where the range
  * half decides), widened and evolved commits, a
  * bootstrapped table whose files sit at absolute external paths,
  * unindexed files on the heal path, and more than
  * [[BloomTable.InListMax]] live files.
  */
object BloomTagProps extends Properties("BloomTag") {

  override def overrideParameters(p: org.scalacheck.Test.Parameters): org.scalacheck.Test.Parameters =
    p.withMinSuccessfulTests(6)

  private lazy val spark = SparkSpec.session
  import spark.implicits._

  private def scratch(): String =
    Files.createTempDirectory("bloom-tag").toString + "/t"

  private def withKeyHashes(df: DataFrame, keys: Seq[String]): DataFrame =
    df.withColumn("__ks", concat_ws("\u0001", keys.map(k => col(k).cast("string")): _*))
      .withColumn("__h1",
        expr("CAST(conv(substr(md5(__ks), 1, 15), 16, 10) AS BIGINT)"))
      .withColumn("__h2",
        expr("CAST(conv(substr(md5(__ks), 17, 14), 16, 10) AS BIGINT)"))

  private def positions(m: Int): String =
    s"transform(sequence(0, ${graft.functions.BloomAggregator.K - 1}), j -> (__h1 + j * __h2) % $m)"

  /** Absolute live files the reference join says may hold a key. */
  private def reference(tablePath: String, batch: DataFrame): Set[String] = {
    val p = BloomTable.props(tablePath)
    val bloom = udaf(new graft.functions.BloomAggregator(p.mBits))
    val idx = BloomTable.liveFiles(tablePath)
      .groupBy(f => Paths.get(f).getParent.toString).values.map { fs =>
        withKeyHashes(spark.read.parquet(fs: _*), p.keys)
          .select(regexp_replace(col("_metadata.file_path"), "^file:/+", "/").as("file"),
            col(p.keys.head).as("__k0"), explode(expr(positions(p.mBits))).as("pos"))
          .groupBy(col("file"))
          .agg(min(col("__k0")).as("key_min"), max(col("__k0")).as("key_max"),
            bloom(col("pos")).as("bloom"))
      }.reduce(_.unionByName(_))
    withKeyHashes(batch, p.keys)
      .withColumn("__poss", expr(positions(p.mBits)))
      .select(col(p.keys.head).as("__k0"), col("__poss"))
      .join(broadcast(idx),
        col("__k0") >= col("key_min") && col("__k0") <= col("key_max"))
      .filter(expr(
        """forall(__poss, p ->
          | (element_at(bloom, CAST(p DIV 64 AS INT) + 1)
          |  & shiftleft(CAST(1 AS BIGINT), CAST(p % 64 AS INT))) != 0)""".stripMargin))
      .select(col("file")).distinct().collect().map(_.getString(0)).toSet
  }

  private def tagged(tablePath: String, batch: DataFrame): Set[String] = {
    val base = Paths.get(tablePath).toAbsolutePath.normalize
    BloomTable.candidates(spark, tablePath, batch)
      .map(f => base.resolve(f).toString).toSet
  }

  private def agree(tablePath: String, batch: DataFrame): Prop = {
    val (got, want) = (tagged(tablePath, batch), reference(tablePath, batch))
    Prop(got == want) :| s"tag $got, reference $want"
  }

  private val probe: Gen[List[(Long, String)]] =
    Gen.listOfN(10, for {
      k1 <- Gen.chooseNum(0L, 400L)
      k2 <- Gen.oneOf("a", "b", "c")
    } yield (k1, k2))

  /** A composite-key table after a few random upserts (rewritten and
    * appended files, overlapping ranges).
    */
  private lazy val composite: String = {
    val path = scratch()
    val rnd = new scala.util.Random(7)
    def rows(n: Int, hi: Int, pc: Long) = Seq.fill(n)(
      (rnd.nextInt(hi).toLong, Seq("a", "b", "c")(rnd.nextInt(3)), pc, rnd.nextDouble()))
      .toDF("k1", "k2", "pc", "v")
    BloomTable.create(rows(300, 300, 0L), path, keys = Seq("k1", "k2"),
      precombine = "pc", numFiles = 4)
    (1 to 3).foreach(i => BloomTable.upsertInto(spark, path, rows(40, 400, i.toLong)))
    path
  }

  property("random batches over a composite key") =
    Prop.forAllNoShrink(probe) { b =>
      agree(composite, b.toDF("k1", "k2"))
    }

  /** Commits that widened the leading key (int → long) and added a
    * column: index rows of different key types share one snapshot.
    */
  private lazy val evolved: String = {
    val path = scratch()
    BloomTable.create((0 until 200).map(i => (i, 0L, i * 1.0)).toDF("k", "pc", "v"),
      path, keys = Seq("k"), precombine = "pc", numFiles = 3)
    BloomTable.upsertInto(spark, path,
      (150 until 260).map(i => (i.toLong, 1L, -1.0, s"x$i")).toDF("k", "pc", "v", "extra"))
    BloomTable.upsertInto(spark, path,
      (300 until 320).map(i => (i.toLong, 2L, 2.0, "y")).toDF("k", "pc", "v", "extra"))
    path
  }

  property("widened and evolved commits") =
    Prop.forAllNoShrink(Gen.listOfN(8, Gen.chooseNum(0L, 400L))) { ks =>
      agree(evolved, ks.toDF("k"))
    }

  /** A metadata-only bootstrap: the manifest lists external absolute
    * paths, and one upsert rewrites part of them into owned files.
    */
  private lazy val bootstrapped: String = {
    val src = Files.createTempDirectory("bloom-tag-src").toString + "/src"
    (0 until 240).map(i => (i.toLong, 0L, i * 1.0)).toDF("k", "pc", "v")
      .repartitionByRange(4, col("k")).write.parquet(src)
    val path = scratch()
    BloomTable.bootstrap(spark, src, path, keys = Seq("k"), precombine = "pc")
    BloomTable.upsertInto(spark, path,
      (10 until 20).map(i => (i.toLong, 1L, 0.0)).toDF("k", "pc", "v"))
    assert(BloomTable.manifest(path).exists(_.startsWith("/")))
    path
  }

  property("bootstrapped table at absolute external paths") =
    Prop.forAllNoShrink(Gen.listOfN(8, Gen.chooseNum(0L, 300L))) { ks =>
      agree(bootstrapped, ks.toDF("k"))
    }

  /** The index pointer rolled back one version, as a writer that
    * crashed between the manifest swap and the index swap leaves it:
    * the newest commit's files are unindexed and the tag must heal.
    */
  private lazy val unindexed: String = {
    val path = scratch()
    BloomTable.create((0 until 200).map(i => (i.toLong, 0L, 1.0)).toDF("k", "pc", "v"),
      path, keys = Seq("k"), precombine = "pc", numFiles = 3)
    BloomTable.upsertInto(spark, path,
      (180 until 260).map(i => (i.toLong, 1L, 2.0)).toDF("k", "pc", "v"))
    Files.writeString(Paths.get(path, "_index", "_latest"), "0")
    path
  }

  property("unindexed files on the heal path") =
    Prop.forAllNoShrink(Gen.listOfN(8, Gen.chooseNum(0L, 300L))) { ks =>
      agree(unindexed, ks.toDF("k"))
    }

  /** 64-bit filters saturate at these row counts, so the range half
    * alone decides which files a key may be in.
    */
  private lazy val saturated: String = {
    val path = scratch()
    BloomTable.create((0 until 400).map(i => (i.toLong * 3, 0L, 1.0)).toDF("k", "pc", "v"),
      path, keys = Seq("k"), precombine = "pc", mBits = 64, numFiles = 6)
    BloomTable.upsertInto(spark, path,
      (500 until 560).map(i => (i.toLong, 1L, 2.0)).toDF("k", "pc", "v"))
    path
  }

  property("saturated filters leave the range check to decide") =
    Prop.forAllNoShrink(Gen.listOfN(8, Gen.chooseNum(-50L, 1400L))) { ks =>
      agree(saturated, ks.toDF("k"))
    }

  private lazy val manyFiles: String = {
    val path = scratch()
    BloomTable.create((0 until 800).map(i => (i.toLong, 0L, 1.0)).toDF("k", "pc", "v"),
      path, keys = Seq("k"), precombine = "pc", numFiles = 80)
    assert(BloomTable.manifest(path).size > BloomTable.InListMax)
    path
  }

  property("more live files than the In-list bound") =
    Prop.forAllNoShrink(Gen.listOfN(12, Gen.chooseNum(0L, 900L))) { ks =>
      agree(manyFiles, ks.toDF("k"))
    }
}
