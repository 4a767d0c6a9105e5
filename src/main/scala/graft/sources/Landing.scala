package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** S3/S4/S6 — the partitioned columnar landing sink.
  *
  * Replaces the reference's hand-rolled writer fleet — per-key ORC writers
  * behind an LRU (`/root/reference/.../HiveBatchedSink.scala:98-113`),
  * idle-scan + async close threads (`:115-175`), and an add-partition
  * callback (`callback/AddPartitionCallback.scala:24-35`) — with Spark's
  * `FileFormatWriter`: `partitionBy` sorts rows by partition expression per
  * task so each task streams one file at a time, the commit protocol makes
  * output atomic+idempotent, and partition discovery/registration is either
  * implicit (`spark.read` path discovery) or one `MSCK`/`ADD PARTITION`
  * statement against a metastore-backed table.
  */
object Landing {

  /** Validate + backtick-quote a catalog identifier (`table` or
    * `db.table`). Values in partition specs are quote-escaped below, but
    * identifiers cannot be value-quoted — they must be structurally
    * constrained instead, or a crafted table/column name walks straight
    * into the DDL string. */
  private[graft] def quoteIdent(name: String): String = {
    val parts = name.split("\\.", -1)
    require(parts.nonEmpty && parts.forall(_.matches("[A-Za-z_][A-Za-z0-9_]*")),
      s"malformed catalog identifier: '$name' " +
        "(expected [A-Za-z_][A-Za-z0-9_]* parts joined by '.')")
    parts.map(p => s"`$p`").mkString(".")
  }

  /** Render a partition value / location as a Spark SQL string literal.
    * BOTH metacharacters must be escaped: quotes (doubled) AND
    * backslashes — Spark's default lexer treats `\` as an escape inside
    * string literals, so a value ending in `\` would swallow the closing
    * quote (`'x\'` parses the quote as escaped) and shift the literal
    * boundary into whatever follows: a parse failure at best,
    * attacker-shifted DDL at worst. Backslashes are escaped FIRST so the
    * doubled quotes stay quote escapes. Under the legacy
    * `spark.sql.parser.escapedStringLiterals=true` lexer (deprecated in
    * Spark 4) there is NO escape processing at all: doubling a backslash
    * or a quote corrupts the value (`''` stays two raw characters), so
    * the only way to carry a metacharacter is to pick a DELIMITER the
    * value does not contain. Two shapes remain INEXPRESSIBLE there: a
    * value containing BOTH quote characters (no third delimiter exists —
    * the `R'…'` raw form is itself mangled by the legacy AstBuilder,
    * which blindly strips first/last chars), and a value ENDING in `\`
    * (the lexer still pairs `\` + closing delimiter when deciding where
    * the token ends, so the literal never terminates; refused
    * conservatively — an EVEN run of trailing backslashes would lex,
    * but counting parity buys nothing over the loud error). Fail loudly on
    * those rather than emit shifted DDL. The session conf that will
    * parse the literal decides which rendering applies. */
  private[graft] def quoteValue(v: String): String = {
    val conf = org.apache.spark.sql.internal.SQLConf.get
    if (!conf.escapedStringLiterals)
      "'" + v.replace("\\", "\\\\").replace("'", "''") + "'"
    else if (!v.contains("'") && !v.endsWith("\\")) "'" + v + "'"
    // the double-quote fallback is only a STRING under the default
    // spark.sql.ansi.doubleQuotedIdentifiers=false; when that conf makes
    // "…" a delimited identifier, fall through to the loud refusal
    else if (!v.contains("\"") && !v.endsWith("\\") &&
        !conf.doubleQuotedIdentifiers) "\"" + v + "\""
    else throw new IllegalArgumentException(
      "value is not expressible under the active legacy lexer confs " +
        "(spark.sql.parser.escapedStringLiterals=true has no escape " +
        "processing: the value ends in a backslash, contains both quote " +
        "delimiters, or needs the double-quote form while " +
        "spark.sql.ansi.doubleQuotedIdentifiers makes that an " +
        s"identifier); unset the legacy conf to land this value: <$v>")
  }

  /** Write `df` as a Hive-layout partitioned table. `format` ∈ orc|parquet. */
  def write(df: DataFrame, path: String, partitionCols: Seq[String],
            format: String = "orc"): Unit =
    df.write
      .mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCols: _*)
      .format(format)
      .save(path)

  /** Read a landed table back (partition columns recovered from the path —
    * the engine-side analogue of metastore partition listing,
    * `util/HiveUtils.scala:42-69`). */
  def read(spark: SparkSession, path: String, format: String = "orc"): DataFrame =
    spark.read.format(format).load(path)

  /** Register landed partitions on a catalog table — the S6 add-partition
    * DDL (`ALTER TABLE … ADD IF NOT EXISTS PARTITION`), idempotent like the
    * reference's existence probe (`util/HiveUtils.scala:58-66`). */
  def registerPartition(spark: SparkSession, table: String,
                        spec: Map[String, String], location: String): Unit = {
    val specSql = spec.map { case (k, v) =>
      s"${quoteIdent(k)}=${quoteValue(v)}" }.mkString(", ")
    spark.sql(s"ALTER TABLE ${quoteIdent(table)} ADD IF NOT EXISTS " +
      s"PARTITION ($specSql) LOCATION ${quoteValue(location)}")
  }

  /** Batched form: one `ALTER TABLE … ADD IF NOT EXISTS PARTITION p1 … pN`
    * statement — one catalog round trip per micro-batch instead of one per
    * partition (the reference pays a metastore thrift call per file close,
    * `callback/AddPartitionCallback.scala:24-35`). */
  def registerPartitions(spark: SparkSession, table: String,
                         parts: Seq[(Map[String, String], String)]): Unit =
    if (parts.nonEmpty) {
      val specsSql = parts.map { case (spec, location) =>
        val specSql = spec.map { case (k, v) =>
          s"${quoteIdent(k)}=${quoteValue(v)}" }.mkString(", ")
        s"PARTITION ($specSql) LOCATION ${quoteValue(location)}"
      }.mkString(" ")
      spark.sql(s"ALTER TABLE ${quoteIdent(table)} ADD IF NOT EXISTS $specsSql")
    }

  /** Per-partition file census of a landed table: (partition dir name,
    * file count, total bytes). Bounded driver metadata — one entry per
    * partition, never row data. */
  def partitionFileStats(spark: SparkSession, path: String):
      Seq[(String, Int, Long)] = {
    import org.apache.hadoop.fs.Path
    val root = new Path(path)
    val fs = graft.fs.ForkFreeLocalFs.of(spark, root)
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.contains("="))
      .map { d =>
        val files = fs.listStatus(d.getPath)
          .filter(f => f.isFile && !f.getPath.getName.startsWith("_")
            && !f.getPath.getName.startsWith("."))
        (d.getPath.getName, files.length, files.map(_.getLen).sum)
      }.sortBy(_._1)
  }

  /** Small-file compaction of a partitioned landing table — the
    * maintenance pass every streaming sink needs (each micro-batch lands
    * `<run>-batch-<id>-part-*` files; a day of 1-minute batches is 1440 files
    * per partition, and at 100 TB the NameNode/scan-planning cost of tiny
    * files dwarfs the data). Partitions with more than `maxFiles` files
    * are rewritten: one job reads only those partitions, `repartition`
    * on the partition column packs each one into a single task writer
    * (AQE splits a skewed partition across tasks rather than OOMing it),
    * and the rewrite lands in a staging dir via the normal atomic commit
    * protocol. The swap is then two directory renames per partition
    * (old → trash, staged → live) — metadata ops on HDFS-likes. Crash
    * safety: before the first rename the live tree is untouched; between
    * the renames the old data is intact in the trash dir and the staged
    * dir is complete, so recovery is re-running the compaction (staged
    * output is rebuilt; renames are idempotent toward the same end
    * state). On object stores the renames become a manifest commit, same
    * contract. An exclusive lock file serializes whole compaction runs
    * (overlapping crons would share staging/trash and could destroy a
    * mid-swap partition's only copy); a hard-crashed run leaves the lock
    * for a human to clear — loud and safe over self-healing and racy.
    * The NULL partition (`__HIVE_DEFAULT_PARTITION__`) is skipped: its
    * rows cannot be reselected by value. Returns (partition,
    * filesBefore, filesAfter). */
  def compactPartitions(spark: SparkSession, path: String,
                        partitionCol: String, format: String = "orc",
                        maxFiles: Int = 1): Seq[(String, Int, Int)] = {
    import org.apache.hadoop.fs.Path
    val root = new Path(path)
    val fs = graft.fs.ForkFreeLocalFs.of(spark, root)
    val staging = new Path(root.getParent,
      "." + root.getName + s"_compact_staging")
    val trash = new Path(root.getParent, "." + root.getName + s"_compact_trash")
    // Mutual exclusion: two concurrent compactions share the fixed
    // staging/trash dirs, and run B's up-front deletes could destroy the
    // only copy of a partition run A is mid-swap on — permanent data
    // loss. `create(…, overwrite = false)` is an atomic exclusive claim
    // on HDFS-likes and the local FS; on S3A-style object stores the
    // underlying check-then-put is NOT atomic, so there the lock is
    // ADVISORY ONLY (it still catches cron overlap by seconds, not a
    // true race) — run compaction under an external scheduler lock, or
    // on a store with conditional-put, when two writers are possible. A
    // crashed run leaves the lock behind ON PURPOSE: the next run fails
    // loudly here with removal instructions instead of silently racing a
    // compaction that might still be alive (cron overlap is
    // indistinguishable from a crash from this side). Only the specific
    // already-exists failure means "held" — any other IOException (a
    // permission error, a transient FS fault) must propagate as itself
    // rather than instruct the operator to delete a lock that does not
    // exist.
    val lock = new Path(root.getParent, "." + root.getName + "_compact_lock")
    val claimed =
      try { fs.create(lock, false).close(); true }
      catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
        case _: java.nio.file.FileAlreadyExistsException => false
      }
    require(claimed,
      s"another compaction of $path appears to be running (lock $lock " +
        "exists); if its process crashed, remove the lock file and re-run")
    try {
      // Crash recovery FIRST: a prior run that died between its two renames
      // left that partition's only copy in the trash dir. Restore any trash
      // partition missing from the live tree before deleting anything —
      // deleting trash up-front would destroy the surviving copy.
      if (fs.exists(trash)) fs.listStatus(trash).foreach { d =>
        val live = new Path(root, d.getPath.getName)
        if (d.isDirectory && !fs.exists(live))
          require(fs.rename(d.getPath, live),
            s"could not restore ${d.getPath.getName} from interrupted compaction")
      }
      fs.delete(staging, true); fs.delete(trash, true)
      val before = partitionFileStats(spark, path)
      // the NULL partition's rows cannot be reselected by a literal
      // isin() on the sentinel dir name (NULL matches nothing), so a swap
      // would publish an EMPTY rewrite over real data — skip it; every
      // other partition still compacts
      val targets = before.filter(_._2 > maxFiles).filterNot(
        _._1.endsWith("=__HIVE_DEFAULT_PARTITION__"))
      if (targets.isEmpty) return Seq.empty
    // the exact inverse of the escaping Spark's writer applied to these
    // dir names ('%hh' decoded, '+' literal — NOT URL decoding)
    val values = targets.map(_._1.split("=", 2)(1))
      .map(org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.unescapePathName)
    import org.apache.spark.sql.functions.col
    // Keep partition values as the literal path strings: type inference
    // would read logdate=0005 back as long 5 and re-render the dir name
    // differently — a silent partition rename on rewrite.
    val inferKey = "spark.sql.sources.partitionColumnTypeInference.enabled"
    val inferWas = spark.conf.get(inferKey, "true")
    spark.conf.set(inferKey, "false")
    try {
      spark.read.format(format).load(path)
        .where(col(partitionCol).isin(values: _*))
        .repartition(col(partitionCol))
        .write.mode("overwrite").partitionBy(partitionCol)
        .format(format).save(staging.toString)
    } finally spark.conf.set(inferKey, inferWas)
    fs.mkdirs(trash)
    val after = targets.map { case (dirName, nBefore, bytesBefore) =>
      val live = new Path(root, dirName)
      val staged = new Path(staging, dirName)
      require(fs.exists(staged), s"compaction staged no output for $dirName")
      // Single-writer guard: compaction is a maintenance pass for COLD
      // partitions — if a concurrent ingest landed files here since the
      // census, swapping would silently trash them. Refuse instead; the
      // already-swapped partitions stay consistent and the next run's
      // restore path cleans up trash/staging.
      val nowFiles = fs.listStatus(live)
        .filter(f => f.isFile && !f.getPath.getName.startsWith("_")
          && !f.getPath.getName.startsWith("."))
      require(nowFiles.length == nBefore && nowFiles.map(_.getLen).sum == bytesBefore,
        s"$dirName changed during compaction (concurrent writer?) — " +
          "compact only partitions no sink is landing into")
      require(fs.rename(live, new Path(trash, dirName)),
        s"compaction could not retire $dirName")
      require(fs.rename(staged, live),
        s"compaction could not publish $dirName (old data in $trash)")
      val nAfter = fs.listStatus(live)
        .count(f => f.isFile && !f.getPath.getName.startsWith("_")
          && !f.getPath.getName.startsWith("."))
      (dirName, nBefore, nAfter)
    }
    fs.delete(staging, true); fs.delete(trash, true)
    after
    } finally { fs.delete(lock, false); () }
  }


  /** Retention enforcement — the other maintenance pass next to
    * [[compactPartitions]]: drop every partition whose value sorts before
    * `cutoff` (time-shaped keys like `yyyyMMdd` sort lexicographically =
    * chronologically). Two-phase for crash safety: retire each expired
    * dir into a trash dir (a metadata rename), then purge the trash as
    * the commit point — a crash mid-run leaves retired partitions in
    * trash, and the next invocation completes BOTH halves of the
    * deletion: it re-issues the idempotent catalog `DROP` for every
    * partition found in trash (whose specs no live listing could
    * re-derive) before purging the files (retention, unlike compaction,
    * never restores). Optionally issues the batched catalog
    * `DROP PARTITION` DDL. Driver work is one entry
    * per expired partition — bounded metadata. Returns the dropped
    * partition dir names. */
  def dropPartitionsBefore(spark: SparkSession, path: String,
                           partitionCol: String, cutoff: String,
                           catalogTable: Option[String] = None): Seq[String] = {
    import org.apache.hadoop.fs.Path
    val root = new Path(path)
    val fs = graft.fs.ForkFreeLocalFs.of(spark, root)
    val trash = new Path(root.getParent, "." + root.getName + "_retention_trash")
    val unescape =
      org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.unescapePathName _
    def dropDdl(dirNames: Seq[String]): Unit = catalogTable.foreach { t =>
      if (dirNames.nonEmpty) {
        val specs = dirNames.map(n =>
          s"PARTITION (${quoteIdent(partitionCol)}=" +
            s"${quoteValue(unescape(n.split("=", 2)(1)))})")
        spark.sql(s"ALTER TABLE ${quoteIdent(t)} DROP IF EXISTS ${specs.mkString(", ")}")
      }
    }
    // Complete any prior crashed run: trash holds already-retired data
    // whose catalog entries may never have been dropped (a crash between
    // the renames and the DDL left the metastore pointing at retired
    // dirs) — re-issue the idempotent DROP for everything found in trash
    // BEFORE purging it, or those entries dangle forever: the retired
    // dirs are gone from the live listing, so no later run would ever
    // re-derive their specs.
    if (fs.exists(trash)) {
      dropDdl(fs.listStatus(trash).toSeq
        .filter(d => d.isDirectory && d.getPath.getName.startsWith(partitionCol + "="))
        .map(_.getPath.getName).sorted)
      fs.delete(trash, true)
    }
    if (!fs.exists(root)) return Seq.empty
    val expired = fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(partitionCol + "="))
      .filter(s => unescape(s.getPath.getName.split("=", 2)(1)) < cutoff)
      .map(_.getPath).sortBy(_.getName)
    if (expired.isEmpty) return Seq.empty
    fs.mkdirs(trash)
    expired.foreach { p =>
      require(fs.rename(p, new Path(trash, p.getName)),
        s"retention could not retire ${p.getName}")
    }
    dropDdl(expired.map(_.getName))
    fs.delete(trash, true)
    expired.map(_.getName)
  }

  /** S5 — create the external partitioned catalog table over a landing
    * path (the metastore table the reference resolves its schema from,
    * `util/HiveUtils.scala:79-88`; here the engine owns the DDL). Data
    * columns keep their DataFrame order; partition columns go last, as the
    * file layout demands. */
  def createPartitionedTable(spark: SparkSession, table: String,
                             schema: org.apache.spark.sql.types.StructType,
                             partitionCols: Seq[String], location: String,
                             format: String = "orc"): Unit = {
    val dataCols = schema.fields.filterNot(f => partitionCols.contains(f.name))
    val ddl = (dataCols.map(f => s"${quoteIdent(f.name)} ${f.dataType.sql}") ++
      partitionCols.map(c => s"${quoteIdent(c)} ${schema(c).dataType.sql}")).mkString(", ")
    spark.sql(s"""CREATE TABLE IF NOT EXISTS ${quoteIdent(table)} ($ddl) USING $format
                  PARTITIONED BY (${partitionCols.map(quoteIdent).mkString(", ")})
                  LOCATION ${quoteValue(location)}""")
  }
}
