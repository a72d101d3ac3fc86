package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver fixture tables (/root/repo/TESTDATA.md).
  *
  * One parquet file per table under the scale-factor dir. All
  * `SparkEntry.queries` read through here so path handling and any
  * read-side normalization (e.g. timestamp precision) live in one place.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    if (name == "events") {
      // events.ts has shipped as both parquet TIMESTAMP(NANOS) (read as
      // LongType under spark.sql.legacy.parquet.nanosAsLong=true, which
      // GraftSession sets) and plain TIMESTAMP_MICROS (read as a
      // timestamp type directly). Branch on the schema actually read so
      // both fixture generations work: raw nanos are floor-divided to
      // micros — DuckDB also truncates NANOS to micros on read, so both
      // engines see bit-identical timestamp values — while a native
      // timestamp column passes through untouched.
      val raw = spark.read.parquet(s"$dir/events.parquet")
      import org.apache.spark.sql.types.{LongType, TimestampType, TimestampNTZType}
      raw.schema("ts").dataType match {
        case LongType =>
          raw.withColumn("ts", org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)"))
        case TimestampType | TimestampNTZType => raw
        case other =>
          // Fail at the read site, not three joins later with an opaque
          // analysis error, if the fixture generator ships a third shape.
          throw new IllegalStateException(
            s"events.parquet ts column has unexpected type $other; " +
              "expected TIMESTAMP(NANOS)-as-LongType (legacy fixtures) or a timestamp type")
      }
    } else spark.read.parquet(s"$dir/$name.parquet")
  }

  /** Cheap content fingerprint of a corpus dir — per-file (relative
    * path, size, nanosecond mtime) folded into an order-independent
    * 64-bit hash over everything under `dir` — the stamp of every
    * corpus-derived [[graft.Stage]] (the registry's session stages and
    * Multimodal's staged aHashes) and of each `Curate` stage chain. A
    * long-lived JVM that regenerates a fixture directory IN PLACE gets
    * a different stamp and re-stages instead of silently serving the
    * old corpus's artifacts (round-12 ADVICE). Per-file hashing (not
    * summed sizes) means a rewrite that preserves file count and TOTAL
    * bytes still flips the stamp when any single file's name, size, or
    * FileTime changes; nanosecond FileTime (where the FS provides it)
    * closes the coarse-mtime window of the old max-millis scheme
    * (round-13 ADVICE). The combine is an unordered sum so the
    * Files.walk traversal order can't affect the stamp. Listing-only —
    * no file is opened — so the walk costs microseconds per thousand
    * files; at production scale the equivalent is the object-store
    * listing the driver already performs to plan the scan.
    */
  def fingerprint(dir: String): String = {
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(root)) return "absent"
    var n = 0L; var acc = 0L
    val it = java.nio.file.Files.walk(root)
    try {
      it.forEach { p =>
        if (java.nio.file.Files.isRegularFile(p)) {
          n += 1
          val nanos = java.nio.file.Files.getLastModifiedTime(p)
            .to(java.util.concurrent.TimeUnit.NANOSECONDS)
          var h = scala.util.hashing.MurmurHash3
            .stringHash(root.relativize(p).toString).toLong
          h = h * 0x9e3779b97f4a7c15L + java.nio.file.Files.size(p)
          h = h * 0x9e3779b97f4a7c15L + nanos
          acc += h // unordered combine: walk order must not matter
        }
      }
    } finally it.close()
    s"$n-${java.lang.Long.toHexString(acc)}"
  }

  def region(s: SparkSession, d: String): DataFrame     = apply(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = apply(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = apply(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = apply(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = apply(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame     = apply(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame  = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")
}
