package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Contract of the stored-artifact resolved-relation memo
  * ([[LlmOps.readStored]]): the resolution is reused while the artifact
  * is byte-identical, and ANY file-level change (append, rewrite,
  * atomic swap) changes its listing digest — a probe can never be served a stale
  * relation that misses rows a maintenance write added. The memo is
  * metadata-only: scans re-read the parquet bytes every execution, so
  * rows are asserted, not plan identity.
  */
class StoredRelCacheSpec extends SparkSpec {
  import spark.implicits._

  test("unchanged artifact resolves once; an append is visible immediately") {
    val dir = java.nio.file.Files.createTempDirectory("graft-relcache").toString
    try {
      Seq((1L, "a"), (2L, "b")).toDF("id", "v")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/t")
      val r1 = LlmOps.readStored(spark, s"$dir/t")
      val r2 = LlmOps.readStored(spark, s"$dir/t")
      // same resolved relation object while the files are unchanged —
      // the memo's whole point (no re-list, no re-infer)
      assert(r1 eq r2, "unchanged artifact must reuse the resolved relation")
      assert(r1.count() === 2L)
      // maintenance append: new file lands in the same directory
      Seq((3L, "c")).toDF("id", "v")
        .coalesce(1).write.mode("append").parquet(s"$dir/t")
      val r3 = LlmOps.readStored(spark, s"$dir/t")
      assert(r3.count() === 3L,
        "append must invalidate the memo — a stale relation misses rows")
      // full rewrite (the swapDir regime): fresh key again
      Seq((9L, "z")).toDF("id", "v")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/t")
      assert(LlmOps.readStored(spark, s"$dir/t")
        .select(sum(col("id"))).head.getLong(0) === 9L)
    } finally org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(dir))
  }

  test("a file:// artifact sees its append; the memo keeps one entry per path") {
    val dir = java.nio.file.Files.createTempDirectory("graft-relcache2").toString
    val uri = new java.io.File(s"$dir/t").toURI.toString
    try {
      Seq((1L, "a"), (2L, "b")).toDF("id", "v")
        .coalesce(1).write.mode("overwrite").parquet(uri)
      assert(uri.startsWith("file:"))
      assert(LlmOps.readStored(spark, uri).count() === 2L)
      val entries = LlmOps.storedRelEntries(spark)
      Seq((3L, "c")).toDF("id", "v")
        .coalesce(1).write.mode("append").parquet(uri)
      assert(LlmOps.readStored(spark, uri).count() === 3L,
        "a URI path must be listed like the scan lists it, or the append is missed")
      assert(LlmOps.storedRelEntries(spark) === entries,
        "a changed listing must replace the path's entry, not add one")
    } finally org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(dir))
  }
}
