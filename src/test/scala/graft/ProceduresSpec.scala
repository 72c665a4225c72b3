package graft

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.catalog.GraftCatalog

/** `CALL graft.system.<proc>(...)` — the SQL surface over the catalog's
  * maintenance verbs. Each call must run the SAME code path as the API
  * method and return its committed result as rows. */
class ProceduresSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val wh = Files.createTempDirectory("graft-proc-wh").toString

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    .config("spark.sql.catalog.graft.warehouse", wh)
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("CALL compact folds a multi-file table to one file") {
    spark.sql("CREATE NAMESPACE graft.proc")
    spark.sql("CREATE TABLE graft.proc.t (k INT, v STRING)")
    spark.sql("INSERT INTO graft.proc.t VALUES (1,'a')")
    spark.sql("INSERT INTO graft.proc.t VALUES (2,'b')")
    spark.sql("INSERT INTO graft.proc.t VALUES (3,'c')")
    val res = spark.sql("CALL graft.system.compact(table => 'proc.t')").collect()
    assert(res.length == 1 && res(0).getInt(1) == 1,
      s"expected one file after compaction, got ${res.toSeq}")
    assert(spark.table("graft.proc.t").count() == 3)
  }

  test("CALL compact with a partition scope rewrites only that partition") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.proc")
    spark.sql("CREATE TABLE graft.proc.pp (dt STRING, k INT) PARTITIONED BY (dt)")
    for (_ <- 0 until 2)
      spark.sql("INSERT INTO graft.proc.pp VALUES ('a', 1), ('b', 2)")
    val res = spark.sql(
      "CALL graft.system.compact(table => 'proc.pp', partition => 'dt=a')")
      .collect()
    // partition a: 2 files -> 1; partition b keeps its 2 → 3 total
    assert(res.length == 1 && res(0).getInt(1) == 3, res.toSeq.toString)
    assert(spark.table("graft.proc.pp").count() == 4)
  }

  test("CALL compact with smaller_than bin-packs only the fragments") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.proc")
    spark.sql("CREATE TABLE graft.proc.sf (k BIGINT)")
    spark.sql("INSERT INTO graft.proc.sf SELECT id FROM range(0, 20000)")
    spark.sql("INSERT INTO graft.proc.sf VALUES (100001)")
    spark.sql("INSERT INTO graft.proc.sf VALUES (100002)")
    val before = spark.sql("SELECT count(*) FROM graft.proc.`sf$files`")
      .head.getLong(0)
    spark.sql(
      "CALL graft.system.compact(table => 'proc.sf', smaller_than => '16k')")
      .collect()
    val after = spark.sql("SELECT count(*) FROM graft.proc.`sf$files`")
      .head.getLong(0)
    assert(after == before - 1, s"$before -> $after") // 2 fragments -> 1
    assert(spark.table("graft.proc.sf").count() == 20002)
  }

  test("add_files onboards a hive-layout partitioned lake, dirs serve the values") {
    import org.apache.spark.sql.functions._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.imp")
    spark.sql("DROP TABLE IF EXISTS graft.imp.pt")
    spark.sql("""CREATE TABLE graft.imp.pt (id BIGINT, v STRING, dt STRING)
      PARTITIONED BY (dt)""")
    spark.sql("INSERT INTO graft.imp.pt VALUES (100, 'native', 'a')")

    // a hive-layout lake: partitionBy keeps dt in the DIRECTORIES only
    val src = Files.createTempDirectory("graft-ext-part-src").toString
    spark.range(0, 12)
      .select(col("id"), concat(lit("x"), col("id")).as("v"),
        when(col("id") % 3 === 0, "a").when(col("id") % 3 === 1, "b")
          .otherwise("c").as("dt"))
      .write.partitionBy("dt").mode("overwrite").parquet(src)

    val res = spark.sql(s"CALL graft.system.add_files('imp.pt', '$src')").collect()
    assert(res(0).getInt(1) >= 3, res.toSeq.toString) // one file per dt at least

    // values come from the dirs, not null-fill: grouping and filtering
    // on the partition column must both see them
    val byDt = spark.table("graft.imp.pt").groupBy(col("dt"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byDt == Map("a" -> 5L, "b" -> 4L, "c" -> 4L), byDt.toString)
    assert(spark.table("graft.imp.pt").filter(col("dt") === "b")
      .select(sum(col("id"))).head.getLong(0) == (1L + 4 + 7 + 10))
    // the native row reads alongside the imported ones
    assert(spark.table("graft.imp.pt").filter(col("id") === 100)
      .select(col("dt")).head.getString(0) == "a")

    // the overlay keeps the scan VECTORIZED: imported groups read
    // columnar via ConstantColumnVector-patched batches, so native
    // files are not taxed with row-based reads (the pre-r9 behavior)
    val overlayScan = spark.table("graft.imp.pt").queryExecution.executedPlan
      .collectFirst {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b }
    assert(overlayScan.exists(_.supportsColumnar),
      "import-overlay scan fell back to row-based reads")

    // CoW partition DELETE composes (group-prune scan reads overlayed)
    spark.sql("DELETE FROM graft.imp.pt WHERE dt = 'c'")
    assert(spark.table("graft.imp.pt").count() == 9)

    // both changelog surfaces carry the dir-served values
    val feed = graft.catalog.Changes.between(spark, "graft.imp.pt", 0)
      .filter(col("_change_type") === "insert")
      .groupBy(col("dt")).agg(count(lit(1)).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(feed == Map("a" -> 5L, "b" -> 4L, "c" -> 4L), feed.toString)
    val tab = spark.read.table("graft.imp.`pt$changes`")
      .filter(col("_change_type") === "insert" && col("dt").isNull).count()
    assert(tab == 0, "scan-surface changelog emitted null partition values")

    // compaction re-encodes natively and the overlay disappears
    spark.sql("CALL graft.system.compact(table => 'imp.pt')").collect()
    assert(spark.table("graft.imp.pt").filter(col("dt") === "b").count() == 4)

    // a NULL partition value travels as the hive default-partition dir
    // and overlays back as null
    spark.sql("DROP TABLE IF EXISTS graft.imp.pn")
    spark.sql("""CREATE TABLE graft.imp.pn (id BIGINT, dt STRING)
      PARTITIONED BY (dt)""")
    val srcN = Files.createTempDirectory("graft-ext-null-src").toString
    spark.range(0, 6)
      .select(col("id"), when(col("id") < 2, lit(null)).otherwise(lit("x"))
        .cast("string").as("dt"))
      .write.partitionBy("dt").mode("overwrite").parquet(srcN)
    spark.sql(s"CALL graft.system.add_files('imp.pn', '$srcN')").collect()
    assert(spark.table("graft.imp.pn").filter(col("dt").isNull)
      .select(sum(col("id"))).head.getLong(0) == 1L) // ids 0+1
    assert(spark.table("graft.imp.pn").filter(col("dt") === "x").count() == 4)

    // partition_filter scopes the import to matching dirs only
    spark.sql("DROP TABLE IF EXISTS graft.imp.pf")
    spark.sql("""CREATE TABLE graft.imp.pf (id BIGINT, v STRING, dt STRING)
      PARTITIONED BY (dt)""")
    spark.sql(s"CALL graft.system.add_files('imp.pf', '$src', " +
      "partition_filter => 'dt=b')").collect()
    val pf = spark.table("graft.imp.pf").groupBy(col("dt"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(pf == Map("b" -> 4L), pf.toString)
    val eBad = intercept[Exception] {
      spark.sql(s"CALL graft.system.add_files('imp.pf', '$src', " +
        "partition_filter => 'nope=1')").collect()
    }
    assert(eBad.getMessage.contains("not identity partition columns"),
      eBad.getMessage)

    // partition_filter matches LOGICAL values: a dir-escaped value
    // (colon → %3A in the hive rendering) is addressed by its plain
    // form, never its escaped form (r8 advice)
    val srcE = Files.createTempDirectory("graft-ext-esc-src").toString
    spark.range(0, 4)
      .select(col("id"), when(col("id") < 2, "a:b").otherwise("plain").as("dt"))
      .write.partitionBy("dt").mode("overwrite").parquet(srcE)
    spark.sql("DROP TABLE IF EXISTS graft.imp.pe")
    spark.sql("""CREATE TABLE graft.imp.pe (id BIGINT, dt STRING)
      PARTITIONED BY (dt)""")
    spark.sql(s"CALL graft.system.add_files('imp.pe', '$srcE', " +
      "partition_filter => 'dt=a:b')").collect()
    val pe = spark.table("graft.imp.pe").select(col("dt")).distinct().collect()
      .map(_.getString(0)).toSet
    assert(pe == Set("a:b"), pe.toString)

    // refusals: non-bucket-witnessable sources into a bucket spec, and
    // merge-on-read tables. (A hive-layout source carries no bucket
    // suffix, so the bucket path refuses on the naming witness.)
    spark.sql("DROP TABLE IF EXISTS graft.imp.bt")
    spark.sql("""CREATE TABLE graft.imp.bt (id BIGINT, dt STRING)
      PARTITIONED BY (bucket(4, id))""")
    val e1 = intercept[Exception] {
      spark.sql(s"CALL graft.system.add_files('imp.bt', '$src')").collect()
    }
    assert(e1.getMessage.contains("bucket"), e1.getMessage)
    spark.sql("DROP TABLE IF EXISTS graft.imp.mt")
    spark.sql("""CREATE TABLE graft.imp.mt (id BIGINT, v STRING, dt STRING)
      PARTITIONED BY (dt)
      TBLPROPERTIES ('write.delete.mode' = 'merge-on-read')""")
    val e2 = intercept[Exception] {
      spark.sql(s"CALL graft.system.add_files('imp.mt', '$src')").collect()
    }
    assert(e2.getMessage.contains("copy-on-write"), e2.getMessage)
  }

  test("add_files onboards a partitionBy+bucketBy lake (identity+bucket spec)") {
    import org.apache.spark.sql.functions._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.imp")
    spark.sql("DROP TABLE IF EXISTS graft.imp.pb")
    spark.sql("""CREATE TABLE graft.imp.pb (id BIGINT, region STRING, v STRING)
      PARTITIONED BY (region, bucket(4, id))""")
    // the Spark partitionBy+bucketBy lake: identity value in the dirs,
    // bucket id in the file names — two independent witnesses
    val srcRoot = Files.createTempDirectory("graft-ext-pb-src").toString
    val src = s"$srcRoot/t"
    spark.range(0, 120)
      .select(col("id"),
        when(col("id") % 2 === 0, "emea").otherwise("apac").as("region"),
        concat(lit("v"), col("id")).as("v"))
      .write.partitionBy("region").bucketBy(4, "id").option("path", src)
      .mode("overwrite").saveAsTable("graft_pb_src_tmp")
    try {
      val res = spark.sql(s"CALL graft.system.add_files('imp.pb', '$src')")
        .collect()
      assert(res(0).getInt(1) >= 8, res.toSeq.toString) // 2 regions × 4 buckets
      assert(spark.table("graft.imp.pb").count() == 120)
      // identity values served from dirs (hive files keep them out of
      // the footers), bucket registered from the file-name witness
      assert(spark.table("graft.imp.pb").filter(col("id") === 42)
        .select(col("region"), col("v")).head.mkString(",") == "emea,v42")
      val parts = spark.sql("SELECT DISTINCT partition FROM graft.imp.`pb$files`")
        .collect().map(_.getString(0)).toSet
      assert(parts.exists(p => p.contains("region=emea") && p.contains("=0")) &&
        parts.exists(p => p.contains("region=apac") && p.contains("=3")),
        parts.toString)
      // identity pruning composes with the bucket dirs
      assert(spark.table("graft.imp.pb").filter(col("region") === "apac")
        .count() == 60)
      // partition_filter scopes the import by the identity dir
      spark.sql("DROP TABLE IF EXISTS graft.imp.pb2")
      spark.sql("""CREATE TABLE graft.imp.pb2 (id BIGINT, region STRING, v STRING)
        PARTITIONED BY (region, bucket(4, id))""")
      spark.sql(s"CALL graft.system.add_files('imp.pb2', '$src', " +
        "partition_filter => 'region=emea')").collect()
      assert(spark.table("graft.imp.pb2").count() == 60)
      // compaction folds to native; content survives
      spark.sql("CALL graft.system.compact(table => 'imp.pb')").collect()
      assert(spark.table("graft.imp.pb").count() == 120)
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_pb_src_tmp")
    }
  }

  test("add_files onboards a hive temporal lake under a month spec") {
    import org.apache.spark.sql.functions._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.imp")
    spark.sql("DROP TABLE IF EXISTS graft.imp.tm")
    spark.sql("""CREATE TABLE graft.imp.tm (id BIGINT, v STRING, d DATE)
      PARTITIONED BY (months(d))""")
    // a hive temporal lake: nested year=/month= dirs (values unpadded,
    // the Spark partitionBy rendering), d itself stays in the footers
    val srcRoot = Files.createTempDirectory("graft-ext-tm-src").toString
    val src = s"$srcRoot/t"
    val rows = spark.range(0, 120)
      .select(col("id"), concat(lit("v"), col("id")).as("v"),
        date_add(to_date(lit("2024-01-01")), (col("id") * 2).cast("int")).as("d"))
    rows.withColumn("year", year(col("d"))).withColumn("month", month(col("d")))
      .write.partitionBy("year", "month").mode("overwrite").parquet(src)
    val res = spark.sql(s"CALL graft.system.add_files('imp.tm', '$src')")
      .collect()
    assert(res(0).getInt(1) >= 8, res.toSeq.toString) // 2024-01..08+
    // content exact, zero copy, served straight from footers
    assert(spark.table("graft.imp.tm").count() == 120)
    assert(spark.table("graft.imp.tm").filter(col("id") === 42)
      .select(col("d")).head.getDate(0).toString == "2024-03-25")
    // registered under the NATIVE month rendering so replay pruning and
    // temporal SPJ treat the files natively
    val parts = spark.sql("SELECT DISTINCT partition FROM graft.imp.`tm$files`")
      .collect().map(_.getString(0)).toSet
    assert(parts.exists(_.contains("=2024-01")) &&
      parts.exists(_.contains("=2024-08")), parts.toString)
    // a month filter reads only that month's rows (value correctness
    // through the pruned scan; the replay machinery is PlanSpec-tested)
    assert(spark.table("graft.imp.tm")
      .filter(col("d") >= to_date(lit("2024-03-01")) &&
        col("d") < to_date(lit("2024-04-01"))).count() ==
      rows.filter(col("d").between("2024-03-01", "2024-03-31")).count())

    // the single-dir rendered form (dt=2024-09) imports into the same
    // spec: per-file witnessing admits mixed lake layouts
    val srcOne = s"$srcRoot/one"
    spark.range(500, 520)
      .select(col("id"), concat(lit("v"), col("id")).as("v"),
        to_date(lit("2024-09-15")).as("d"))
      .coalesce(1).write.mode("overwrite").parquet(s"$srcOne/dt=2024-09")
    spark.sql(s"CALL graft.system.add_files('imp.tm', '$srcOne')").collect()
    assert(spark.table("graft.imp.tm").count() == 140)

    // dirs that LIE about their rows refuse: the per-row dirExpr proof
    val srcBad = s"$srcRoot/bad"
    spark.range(0, 10)
      .select(col("id"), lit("x").as("v"), to_date(lit("2024-02-10")).as("d"))
      .coalesce(1).write.mode("overwrite").parquet(s"$srcBad/year=2024/month=3")
    val eLie = intercept[Exception] {
      spark.sql(s"CALL graft.system.add_files('imp.tm', '$srcBad')").collect()
    }
    assert(eLie.getMessage.contains("do not witness"), eLie.getMessage)

    // NULL partition-source rows refuse (no witnessable dir holds them)
    val srcNull = s"$srcRoot/null"
    spark.range(0, 5)
      .select(col("id"), lit("x").as("v"),
        when(col("id") < 3, to_date(lit("2024-05-01"))).as("d"))
      .coalesce(1).write.mode("overwrite").parquet(s"$srcNull/year=2024/month=5")
    val eNull = intercept[Exception] {
      spark.sql(s"CALL graft.system.add_files('imp.tm', '$srcNull')").collect()
    }
    assert(eNull.getMessage.contains("NULL"), eNull.getMessage)

    // non-witnessing dirs refuse (a k=v that is neither the nested
    // level names nor a rendered value)
    val srcOdd = s"$srcRoot/odd"
    spark.range(0, 5)
      .select(col("id"), lit("x").as("v"), to_date(lit("2024-06-01")).as("d"))
      .coalesce(1).write.mode("overwrite").parquet(s"$srcOdd/region=emea")
    val eOdd = intercept[Exception] {
      spark.sql(s"CALL graft.system.add_files('imp.tm', '$srcOdd')").collect()
    }
    assert(eOdd.getMessage.contains("witness") ||
      eOdd.getMessage.contains("rendered"), eOdd.getMessage)

    // compaction folds the import to native files; content survives
    spark.sql("CALL graft.system.compact(table => 'imp.tm')").collect()
    assert(spark.table("graft.imp.tm").count() == 140)
  }

  test("add_files onboards a prefix-dir lake under a truncate spec") {
    import org.apache.spark.sql.functions._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.imp")
    spark.sql("DROP TABLE IF EXISTS graft.imp.tr")
    spark.sql("""CREATE TABLE graft.imp.tr (id BIGINT, name STRING)
      PARTITIONED BY (truncate(2, name))""")
    // a prefix-partitioned lake: one dir per 2-char name prefix, the
    // name column itself stays in the footers
    val srcRoot = Files.createTempDirectory("graft-ext-tr-src").toString
    val src = s"$srcRoot/t"
    val rows = spark.range(0, 90)
      .select(col("id"),
        concat(element_at(array(lit("al"), lit("bo"), lit("cy")),
          (col("id") % 3 + 1).cast("int")), lit("x"), col("id")).as("name"))
    Seq("al", "bo", "cy").foreach { p =>
      rows.filter(col("name").startsWith(p)).coalesce(1)
        .write.mode("overwrite").parquet(s"$src/pfx=$p")
    }
    val res = spark.sql(s"CALL graft.system.add_files('imp.tr', '$src')")
      .collect()
    assert(res(0).getInt(1) == 3, res.toSeq.toString)
    // content exact, zero copy, served straight from footers
    assert(spark.table("graft.imp.tr").count() == 90)
    assert(spark.table("graft.imp.tr").filter(col("id") === 42)
      .select(col("name")).head.getString(0) == "alx42")
    // registered under the NATIVE truncate rendering so replay pruning
    // treats the files natively: a prefix filter reads one file
    val parts = spark.sql("SELECT DISTINCT partition FROM graft.imp.`tr$files`")
      .collect().map(_.getString(0)).toSet
    assert(parts.exists(_.contains("=al")) && parts.exists(_.contains("=cy")),
      parts.toString)
    val pruned = spark.table("graft.imp.tr")
      .filter(col("name").startsWith("bo"))
    assert(pruned.count() == 30)
    assert(pruned.select(input_file_name()).distinct().count() == 1,
      "a 2-char prefix filter must prune to the one witnessed file")

    // dirs that LIE about their rows refuse: the per-row dirExpr proof
    val srcBad = s"$srcRoot/bad"
    spark.range(0, 5)
      .select(col("id"), concat(lit("zz"), col("id")).as("name"))
      .coalesce(1).write.mode("overwrite").parquet(s"$srcBad/pfx=aa")
    val eLie = intercept[Exception] {
      spark.sql(s"CALL graft.system.add_files('imp.tr', '$srcBad')").collect()
    }
    assert(eLie.getMessage.contains("do not witness"), eLie.getMessage)

    // NULL partition-source rows refuse
    val srcNull = s"$srcRoot/null"
    spark.range(0, 5)
      .select(col("id"), when(col("id") < 3, lit("aax")).as("name"))
      .coalesce(1).write.mode("overwrite").parquet(s"$srcNull/pfx=aa")
    val eNull = intercept[Exception] {
      spark.sql(s"CALL graft.system.add_files('imp.tr', '$srcNull')").collect()
    }
    assert(eNull.getMessage.contains("NULL"), eNull.getMessage)

    // a dir value longer than the truncate width refuses driver-side
    val srcWide = s"$srcRoot/wide"
    spark.range(0, 5)
      .select(col("id"), lit("abc").as("name"))
      .coalesce(1).write.mode("overwrite").parquet(s"$srcWide/pfx=abc")
    val eWide = intercept[Exception] {
      spark.sql(s"CALL graft.system.add_files('imp.tr', '$srcWide')").collect()
    }
    assert(eWide.getMessage.contains("longer than"), eWide.getMessage)

    // escaped dir values transfer verbatim: a prefix containing a space
    // arrives %-escaped from the Spark partitionBy layout, the proof
    // compares the UNescaped value against the rendered prefix, and the
    // landed `__part_` dir keeps the same escaping the native writer
    // would use — the round-trip is value-exact
    spark.sql("DROP TABLE IF EXISTS graft.imp.tre")
    spark.sql("""CREATE TABLE graft.imp.tre (id BIGINT, name STRING)
      PARTITIONED BY (truncate(3, name))""")
    val srcEsc = s"$srcRoot/esc"
    spark.range(0, 6)
      .select(col("id"), concat(lit("a b"), col("id")).as("name"),
        lit("a b").as("pfx"))
      .coalesce(1).write.partitionBy("pfx").mode("overwrite").parquet(srcEsc)
    spark.sql(s"CALL graft.system.add_files('imp.tre', '$srcEsc')").collect()
    assert(spark.table("graft.imp.tre").count() == 6)
    assert(spark.table("graft.imp.tre").filter(col("name").startsWith("a b"))
      .count() == 6)
    assert(spark.table("graft.imp.tre").filter(col("id") === 3)
      .select(col("name")).head.getString(0) == "a b3")

    // an INT truncate spec enforces the width-multiple witness
    spark.sql("DROP TABLE IF EXISTS graft.imp.tri")
    spark.sql("""CREATE TABLE graft.imp.tri (id BIGINT, grp BIGINT)
      PARTITIONED BY (truncate(100, grp))""")
    val srcInt = s"$srcRoot/int"
    spark.range(0, 40)
      .select(col("id"), (col("id") % 2 * 10 + 100).as("grp"))
      .coalesce(1).write.mode("overwrite").parquet(s"$srcInt/g=100")
    spark.sql(s"CALL graft.system.add_files('imp.tri', '$srcInt')").collect()
    assert(spark.table("graft.imp.tri").count() == 40)
    val srcIntBad = s"$srcRoot/intbad"
    spark.range(0, 5).select(col("id"), lit(150L).as("grp"))
      .coalesce(1).write.mode("overwrite").parquet(s"$srcIntBad/g=150")
    val eMul = intercept[Exception] {
      spark.sql(s"CALL graft.system.add_files('imp.tri', '$srcIntBad')").collect()
    }
    assert(eMul.getMessage.contains("multiple"), eMul.getMessage)

    // compaction folds the import to native files; content survives
    spark.sql("CALL graft.system.compact(table => 'imp.tr')").collect()
    assert(spark.table("graft.imp.tr").count() == 90)
    assert(spark.table("graft.imp.tr")
      .filter(col("name").startsWith("bo")).count() == 30)
  }

  test("add_files onboards a Spark bucketBy lake under a bucket spec") {
    import org.apache.spark.sql.functions._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.imp")
    spark.sql("DROP TABLE IF EXISTS graft.imp.bk")
    spark.sql("""CREATE TABLE graft.imp.bk (id BIGINT, v STRING)
      PARTITIONED BY (bucket(4, id))""")
    // a Spark bucketBy lake: the bucket id lives in the file NAME
    // (part-....._NNNNN...), the hash is pmod(murmur3(id, 42), 4) —
    // bit-identical to graft's write-side layout
    val srcRoot = Files.createTempDirectory("graft-ext-bk-src").toString
    val src = s"$srcRoot/t"
    spark.range(0, 100)
      .select(col("id"), concat(lit("v"), col("id")).as("v"))
      .write.bucketBy(4, "id").option("path", src)
      .mode("overwrite").saveAsTable("graft_bk_src_tmp")
    try {
      val res = spark.sql(s"CALL graft.system.add_files('imp.bk', '$src')")
        .collect()
      assert(res(0).getInt(1) >= 4, res.toSeq.toString)
      // content exact, zero copy
      assert(spark.table("graft.imp.bk").count() == 100)
      assert(spark.table("graft.imp.bk").filter(col("id") === 42)
        .select(col("v")).head.getString(0) == "v42")
      // files registered under their witnessed bucket dirs
      val parts = spark.sql("SELECT DISTINCT partition FROM graft.imp.`bk$files`")
        .collect().map(_.getString(0)).toSet
      assert(parts.exists(_.contains("=0")) && parts.exists(_.contains("=3")),
        parts.toString)

      // a lake bucketed by a DIFFERENT column carries the right naming
      // but the wrong hashes — the per-row verification must refuse
      val srcBad = s"$srcRoot/bad"
      spark.range(0, 100)
        .select(col("id"), concat(lit("v"), col("id")).as("v"))
        .write.bucketBy(4, "v").option("path", srcBad)
        .mode("overwrite").saveAsTable("graft_bk_bad_tmp")
      spark.sql("DROP TABLE IF EXISTS graft.imp.bk2")
      spark.sql("""CREATE TABLE graft.imp.bk2 (id BIGINT, v STRING)
        PARTITIONED BY (bucket(4, id))""")
      val eBad = intercept[Exception] {
        spark.sql(s"CALL graft.system.add_files('imp.bk2', '$srcBad')").collect()
      }
      assert(eBad.getMessage.contains("different hash") ||
        eBad.getMessage.contains("hash to buckets"), eBad.getMessage)

      // compaction folds the import to native files; content survives
      spark.sql("CALL graft.system.compact(table => 'imp.bk')").collect()
      assert(spark.table("graft.imp.bk").count() == 100)
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_bk_src_tmp")
      spark.sql("DROP TABLE IF EXISTS graft_bk_bad_tmp")
    }
  }

  test("compact maintenance edges: empty no-op, overflow smaller_than rejected") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.proc")
    spark.sql("CREATE TABLE graft.proc.empty (k INT)")
    // empty table + smaller_than sweep: a maintenance-schedule no-op,
    // not an error, and no commit
    val res = spark.sql(
      "CALL graft.system.compact(table => 'proc.empty', smaller_than => '64m')")
      .collect()
    assert(res.length == 1 && res(0).getInt(1) == 0, res.toSeq.toString)
    // an EXPLICIT partition scope matching nothing still errors
    val e = intercept[Exception] {
      spark.sql(
        "CALL graft.system.compact(table => 'proc.empty', partition => 'dt=zz')")
        .collect()
    }
    assert(e.getMessage.contains("match partition"), e.getMessage)
    // overflow: digits << shift would go negative — friendly rejection,
    // never a silent no-op threshold
    for (bad <- Seq("99999999999999999g", "999999999999999999999", "0", "0k")) {
      val err = intercept[Exception] {
        spark.sql("CALL graft.system.compact(table => 'proc.empty', " +
          s"smaller_than => '$bad')").collect()
      }
      assert(err.getMessage.contains("smaller_than"),
        s"'$bad': ${err.getMessage}")
    }
  }

  test("CALL create_branch / fast_forward / drop_ref run the WAP loop") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.proc")
    spark.sql("CREATE TABLE graft.proc.w (k INT)")
    spark.sql("INSERT INTO graft.proc.w VALUES (1)")
    val sid = spark.sql("CALL graft.system.create_branch('proc.w', 'audit')")
      .collect()(0).getLong(0)
    assert(sid > 0)
    spark.sql("INSERT INTO graft.proc.w VALUES (2)") // moves main past the branch
    // tag the current state, roll the branch forward is refused (main moved)
    intercept[Exception] {
      spark.sql("CALL graft.system.fast_forward('proc.w', 'audit')").collect()
    }
    val refs = spark.sql("CALL graft.system.drop_ref('proc.w', 'audit')")
      .collect()(0).getInt(0)
    assert(refs == 0)
  }

  test("CALL compact_zorder clusters on the named columns") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.proc")
    spark.sql("CREATE TABLE graft.proc.z (a BIGINT, b BIGINT)")
    spark.sql("INSERT INTO graft.proc.z SELECT id, 1000 - id FROM range(0, 1000)")
    spark.sql("INSERT INTO graft.proc.z SELECT id, 1000 - id FROM range(1000, 2000)")
    val res = spark.sql(
      "CALL graft.system.compact_zorder('proc.z', 'a,b', 4)").collect()
    assert(res.length == 1 && res(0).getInt(1) <= 4,
      s"expected ≤4 z-ordered files, got ${res.toSeq}")
    assert(spark.table("graft.proc.z").count() == 2000)
  }

  test("CALL add_files onboards foreign parquet; rename guard lifts after compact+expire") {
    import org.apache.spark.sql.functions._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.imp")
    spark.sql("CREATE TABLE graft.imp.t (id BIGINT, v STRING)")
    spark.sql("INSERT INTO graft.imp.t VALUES (100, 'native')")

    // a FOREIGN parquet dir: plain Spark write — no field ids inside
    val src = Files.createTempDirectory("graft-ext-src").toString
    spark.range(0, 10).select(col("id"), concat(lit("x"), col("id")).as("v"))
      .repartition(2).write.mode("overwrite").parquet(src)

    val res = spark.sql(s"CALL graft.system.add_files('imp.t', '$src')").collect()
    assert(res(0).getInt(1) == spark.read.parquet(src).inputFiles.length)

    // mixed native + imported scan: exact values, no null-fill
    val rows = spark.table("graft.imp.t").collect()
    assert(rows.length == 11)
    assert(rows.map(_.getLong(0)).sorted.toSeq == ((0L to 9L) :+ 100L),
      "imported rows must scan alongside native rows")
    assert(rows.forall(r => !r.isNullAt(1)),
      "id-less imported files must resolve by name, never null-fill")
    assert(spark.table("graft.imp.t").filter(col("id") === 5)
      .select("v").head().getString(0) == "x5")
    // the changelog covers the import commit like any append
    val ch = graft.catalog.Changes.between(spark, "graft.imp.t", 0)
    assert(ch.filter(col("_change_type") === "insert").count() == 11)

    // rename refuses while imported (id-less) files are in retained history
    intercept[Exception](
      spark.sql("ALTER TABLE graft.imp.t RENAME COLUMN v TO w"))
    // compact re-homes every row through the id-stamping write path;
    // expiry trims the import commits out of retained history — then
    // the rename is safe again and old rows still serve
    spark.sql("CALL graft.system.compact(table => 'imp.t')")
    spark.sql("CALL graft.system.expire_snapshots('imp.t', 1, 0)")
    spark.sql("ALTER TABLE graft.imp.t RENAME COLUMN v TO w")
    assert(spark.table("graft.imp.t").filter(col("id") === 5)
      .select("w").head().getString(0) == "x5")

    // a table with a rename in its schema history refuses new imports
    val e1 = intercept[Exception](
      spark.sql(s"CALL graft.system.add_files('imp.t', '$src')").collect())
    assert(e1.getMessage.contains("renamed"), e1.getMessage)
    // bucket-partitioned tables require a bucketBy-witnessed source: a
    // plain parquet file name carries no bucket suffix, so the witness
    // refuses (identity-partitioned hive layouts import fine, and real
    // bucketBy lakes pass — see the bucketBy lifecycle test)
    spark.sql("""CREATE TABLE graft.imp.p (id BIGINT, v STRING)
      PARTITIONED BY (bucket(4, id))""")
    val e2 = intercept[Exception](
      spark.sql(s"CALL graft.system.add_files('imp.p', '$src')").collect())
    assert(e2.getMessage.contains("bucket cannot be witnessed"), e2.getMessage)
    // schema drift refuses: missing table column in the source files
    spark.sql("CREATE TABLE graft.imp.m (id BIGINT, missing DOUBLE)")
    val e3 = intercept[Exception](
      spark.sql(s"CALL graft.system.add_files('imp.m', '$src')").collect())
    assert(e3.getMessage.contains("missing"), e3.getMessage)
  }

  test("SHOW PROCEDURES lists the maintenance surface") {
    val df = spark.sql("SHOW PROCEDURES IN graft")
    val nameCol = df.schema.fieldNames
      .find(_.toLowerCase.contains("procedure"))
      .getOrElse(df.schema.fieldNames.last)
    val names = df.select(nameCol).collect().map(_.getString(0)).toSet
    assert(graft.catalog.Procedures.Names.toSet.subsetOf(names) ||
      names.exists(_.contains("compact")),
      s"expected the maintenance procedures listed, got $names")
  }

  test("CALL rollback and expire_snapshots administer history") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.proc")
    spark.sql("CREATE TABLE graft.proc.r (k INT)")
    spark.sql("INSERT INTO graft.proc.r VALUES (1)")
    val snap1 = spark.sql("SELECT snapshot_id FROM graft.proc.`r$history`")
      .collect().map(_.getLong(0)).min
    spark.sql("INSERT INTO graft.proc.r VALUES (2)")
    assert(spark.table("graft.proc.r").count() == 2)
    spark.sql(s"CALL graft.system.rollback('proc.r', $snap1)").collect()
    assert(spark.table("graft.proc.r").count() == 1,
      "rollback must restore the first snapshot's contents")
    // expire with keep=1, zero grace: old metadata versions go away
    val removed = spark
      .sql("CALL graft.system.expire_snapshots('proc.r', 1, 0)")
      .collect()(0).getInt(0)
    assert(removed >= 0) // rolled-back-to files stay live; count is informational
    assert(spark.table("graft.proc.r").count() == 1)
  }

  test("CALL rewrite_position_deletes merges marks without touching data") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.proc")
    spark.sql("""CREATE TABLE graft.proc.pd (k INT, v STRING)
      TBLPROPERTIES (
        'write.delete.mode' = 'merge-on-read',
        'write.update.mode' = 'merge-on-read')""")
    spark.sql("INSERT INTO graft.proc.pd VALUES (1,'a'),(2,'b'),(3,'c'),(4,'d')")
    spark.sql("DELETE FROM graft.proc.pd WHERE k = 1")
    spark.sql("UPDATE graft.proc.pd SET v = 'B' WHERE k = 2")
    val cat = spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[GraftCatalog]
    def snap = cat.metadataStore.load(Seq("proc"), "pd")._1.currentSnapshot.get
    val before = snap
    assert(before.deleteFiles.size >= 2, before.deleteFiles.toString)
    val preVersion = cat.metadataStore.currentVersion(Seq("proc"), "pd")

    val res = spark
      .sql("CALL graft.system.rewrite_position_deletes('proc.pd')")
      .collect()(0)
    assert(res.getInt(0) == before.deleteFiles.size && res.getInt(1) >= 1,
      res.toString)

    val after = snap
    assert(after.operation == "rewrite-deletes")
    assert(after.files == before.files, "data files must be untouched")
    assert(after.deleteFiles.size < before.deleteFiles.size)
    assert(after.deleteFiles.forall(_.keyFieldIds.isEmpty))
    // answers unchanged through the merged set
    val rows = spark.table("graft.proc.pd").collect()
      .map(r => (r.getInt(0), r.getString(1))).sortBy(_._1).toSeq
    assert(rows == Seq((2, "B"), (3, "c"), (4, "d")), rows.toString)
    // time travel to the pre-merge snapshot still reads the OLD files
    assert(spark.sql(
      s"SELECT count(*) FROM graft.proc.pd VERSION AS OF $preVersion")
      .head().getLong(0) == 3L)
    // the changelog emits NOTHING for a pure delete-file rewrite (the
    // dead set is identical before and after)
    val step = graft.catalog.Changes.between(spark, "graft.proc.pd",
      preVersion, Some(preVersion + 1))
    assert(step.isEmpty, step.collect().mkString(","))
    // a second call is a no-op (nothing left to merge)
    val again = spark
      .sql("CALL graft.system.rewrite_position_deletes('proc.pd')")
      .collect()(0)
    assert(again.getInt(0) == 0 && again.getInt(1) == 0)
  }

  test("CALL remove_orphan_files deletes aborted-commit leftovers only") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.proc")
    spark.sql("CREATE TABLE graft.proc.o (k INT)")
    spark.sql("INSERT INTO graft.proc.o VALUES (1)")
    spark.sql("INSERT INTO graft.proc.o VALUES (2)")
    val cat = spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[GraftCatalog]
    val dataDir = cat.metadataStore.dataDir(Seq("proc"), "o")
    // plant an orphan: a staged parquet no snapshot references (the
    // debris of a crashed writer)
    val orphanDir = java.nio.file.Paths.get(dataDir, "commit-dead")
    java.nio.file.Files.createDirectories(orphanDir)
    val orphan = orphanDir.resolve("part-0.parquet")
    java.nio.file.Files.write(orphan, Array[Byte](1, 2, 3))
    // grace protects young files — with the default window nothing goes
    val protectedRun = spark
      .sql("CALL graft.system.remove_orphan_files('proc.o')")
      .collect()(0).getInt(0)
    assert(protectedRun == 0 && java.nio.file.Files.exists(orphan),
      "a file younger than the grace window must survive")
    // zero grace: the orphan goes, live files stay, history intact
    val removed = spark
      .sql("CALL graft.system.remove_orphan_files('proc.o', 0)")
      .collect()(0).getInt(0)
    assert(removed == 1, s"expected exactly the planted orphan, got $removed")
    assert(!java.nio.file.Files.exists(orphan))
    assert(spark.table("graft.proc.o").count() == 2)
    // every retained version is still readable (time travel untouched)
    val v = cat.metadataStore.currentVersion(Seq("proc"), "o")
    assert(spark.sql(s"SELECT count(*) FROM graft.proc.o VERSION AS OF ${v - 1}")
      .head().getLong(0) == 1L)
    // namespace scoping: procedures resolve under `system` only
    intercept[Exception] {
      spark.sql("CALL graft.proc.compact(table => 'proc.o')").collect()
    }
  }

  test("remove_orphan_files aborts on an unreadable version instead of deleting its files") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.proc")
    spark.sql("CREATE TABLE graft.proc.unreadable (k INT)")
    spark.sql("INSERT INTO graft.proc.unreadable VALUES (1)")
    val cat = spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[GraftCatalog]
    val store = cat.metadataStore
    val appended = store.currentVersion(Seq("proc"), "unreadable")
    val f1 = store.loadVersion(Seq("proc"), "unreadable", appended)
      .currentSnapshot.get.files
    spark.sql("INSERT OVERWRITE graft.proc.unreadable VALUES (2)")
    val dataDir = store.dataDir(Seq("proc"), "unreadable")
    assert(f1.nonEmpty && f1.forall(f => Files.exists(java.nio.file.Paths.get(dataDir, f))))
    // only the appending version references f1; make its document
    // unparseable (new bytes, so no cached copy of it is served)
    Files.write(java.nio.file.Paths.get(
      store.metadataLocation(Seq("proc"), "unreadable", appended)),
      "{not json".getBytes("UTF-8"))
    val ident = org.apache.spark.sql.connector.catalog.Identifier.of(
      Array("proc"), "unreadable")
    intercept[Exception](cat.removeOrphanFiles(ident, graceMs = 0L))
    assert(f1.forall(f => Files.exists(java.nio.file.Paths.get(dataDir, f))),
      "a file an unreadable version may reference must survive the sweep")
  }
}
