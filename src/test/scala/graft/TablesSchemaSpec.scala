package graft

import org.apache.spark.sql.types._

/** Fixture-drift canary: asserts the physical schema assumptions every
  * `Tables` loader makes, so a regenerated `/root/testdata` fails THIS
  * one obvious suite instead of killing every downstream query at
  * analysis (the round-9/10 events regression: TIMESTAMP(NANOS) →
  * TIMESTAMP(MICROS, NTZ) silently broke 18 queries and 20 tests).
  *
  * If this suite fails after a fixture regeneration: fix
  * `Tables.scala` first — everything else follows from the loaders.
  */
class TablesSchemaSpec extends SparkTestBase {
  private lazy val tables = Tables(spark, sf0001)

  /** Timestamp-family columns may surface as LTZ or NTZ depending on the
    * writer's isAdjustedToUTC flag; both are value-identical under the
    * pinned UTC session TZ. */
  private val tsFamily: Set[DataType] = Set(TimestampType, TimestampNTZType)

  private def assertSchema(
      name: String,
      df: org.apache.spark.sql.DataFrame,
      expected: Seq[(String, Either[DataType, Set[DataType]])]): Unit = {
    val actual = df.schema.fields.map(f => f.name -> f.dataType).toSeq
    assert(actual.map(_._1) == expected.map(_._1),
      s"$name: column names drifted — got ${actual.map(_._1).mkString(",")}")
    expected.zip(actual).foreach {
      case ((col, Left(dt)), (_, got)) =>
        assert(got == dt, s"$name.$col: expected $dt, fixture now loads as $got")
      case ((col, Right(dts)), (_, got)) =>
        assert(dts.contains(got), s"$name.$col: expected one of $dts, fixture now loads as $got")
    }
  }

  private def exact(dt: DataType): Either[DataType, Set[DataType]] = Left(dt)
  private def anyOf(dts: Set[DataType]): Either[DataType, Set[DataType]] = Right(dts)

  test("region/nation dims load with the expected schema") {
    assertSchema("region", tables.region,
      Seq("r_regionkey" -> exact(IntegerType), "r_name" -> exact(StringType)))
    assertSchema("nation", tables.nation,
      Seq("n_nationkey" -> exact(IntegerType), "n_name" -> exact(StringType),
          "n_regionkey" -> exact(IntegerType)))
  }

  test("customer/supplier/part load with the expected schema") {
    assertSchema("customer", tables.customer,
      Seq("c_custkey" -> exact(LongType), "c_name" -> exact(StringType),
          "c_nationkey" -> exact(IntegerType), "c_acctbal" -> exact(DoubleType),
          "c_mktsegment" -> exact(StringType)))
    assertSchema("supplier", tables.supplier,
      Seq("s_suppkey" -> exact(LongType), "s_name" -> exact(StringType),
          "s_nationkey" -> exact(IntegerType), "s_acctbal" -> exact(DoubleType)))
    assertSchema("part", tables.part,
      Seq("p_partkey" -> exact(LongType), "p_name" -> exact(StringType),
          "p_brand" -> exact(StringType), "p_type" -> exact(StringType),
          "p_size" -> exact(IntegerType), "p_retailprice" -> exact(DoubleType)))
  }

  test("orders/lineitem load with the expected schema (ts-family dates)") {
    assertSchema("orders", tables.orders,
      Seq("o_orderkey" -> exact(LongType), "o_custkey" -> exact(LongType),
          "o_orderstatus" -> exact(StringType), "o_totalprice" -> exact(DoubleType),
          "o_orderdate" -> anyOf(tsFamily), "o_orderpriority" -> exact(StringType)))
    assertSchema("lineitem", tables.lineitem,
      Seq("l_orderkey" -> exact(LongType), "l_partkey" -> exact(LongType),
          "l_suppkey" -> exact(LongType), "l_linenumber" -> exact(IntegerType),
          "l_quantity" -> exact(DoubleType), "l_extendedprice" -> exact(DoubleType),
          "l_discount" -> exact(DoubleType), "l_tax" -> exact(DoubleType),
          "l_returnflag" -> exact(StringType), "l_linestatus" -> exact(StringType),
          "l_shipdate" -> anyOf(tsFamily)))
  }

  test("events canonicalises ts to TimestampType whatever the physical encoding") {
    val ev = tables.events
    assertSchema("events", ev,
      Seq("event_id" -> exact(LongType), "ts" -> exact(TimestampType),
          "user_id" -> exact(LongType), "event_type" -> exact(StringType),
          "value" -> exact(DoubleType), "props" -> exact(StringType)))
    // The loader must have produced plausible µs-epoch values, not garbage
    // from a unit mix-up (a ns-read-as-µs bug lands in year ~1970).
    val yr = ev.selectExpr("min(year(ts)) AS lo", "max(year(ts)) AS hi").head()
    assert(yr.getInt(0) >= 1990 && yr.getInt(1) <= 2100,
      s"events.ts years [${yr.getInt(0)}, ${yr.getInt(1)}] look like a unit mix-up")
  }

  test("documents/embeddings load with the expected schema") {
    assertSchema("documents", tables.documents,
      Seq("doc_id" -> exact(LongType), "text" -> exact(StringType),
          "lang" -> exact(StringType), "source" -> exact(StringType),
          "n_chars" -> exact(LongType)))
    assertSchema("embeddings", tables.embeddings,
      Seq("vec_id" -> exact(LongType),
          "embedding" -> exact(ArrayType(FloatType, containsNull = true)),
          "label" -> exact(IntegerType)))
  }

  private val files = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  test("every loader's schema, inferred once and reused, equals a fresh inference") {
    files.foreach { name =>
      tables.t(name)
      val reused = tables.t(name).schema
      assert(reused == spark.read.parquet(s"$sf0001/$name.parquet").schema,
        s"$name: the reused schema differs from a fresh inference")
    }
  }

  test("loading events leaves the session's nanosAsLong setting as it was") {
    val s2 = spark.newSession()
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    s2.conf.set(key, "false")
    Tables(s2, sf0001).events.schema
    assert(s2.conf.get(key) == "false", "a loader wrote session conf")
  }

  test("a file rewritten at the same path with another schema is inferred again") {
    val dir = java.nio.file.Files.createTempDirectory("graft-tables")
    val target = dir.resolve("region.parquet")
    def land(from: String): Unit = java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf0001/$from.parquet"), target,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    try {
      val t = Tables(spark, dir.toString)
      land("region")
      assert(t.region.columns.toSeq == Seq("r_regionkey", "r_name"))
      assert(t.region.count() == 5)
      land("nation")
      assert(t.region.schema == spark.read.parquet(target.toString).schema)
      assert(t.region.columns.toSeq == Seq("n_nationkey", "n_name", "n_regionkey"))
      assert(t.region.count() == 25)
    } finally {
      java.nio.file.Files.deleteIfExists(target)
      java.nio.file.Files.deleteIfExists(dir)
    }
  }

  test("two loads of one table self-join by column reference without ambiguity") {
    val (a, b) = (tables.nation, tables.nation)
    val got = a.join(b, a("n_nationkey") === b("n_regionkey"))
      .select(a("n_name"), b("n_name")).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    val rows = spark.read.parquet(s"$sf0001/nation.parquet").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getInt(2)))
    val expected = for {
      (ak, an, _) <- rows; (_, bn, br) <- rows if ak == br
    } yield (an, bn)
    assert(expected.nonEmpty && got == expected.toSet)
  }
}
