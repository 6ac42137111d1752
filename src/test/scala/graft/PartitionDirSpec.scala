package graft

import java.sql.{Date, Timestamp}
import java.time.{Instant, LocalDate}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.v2.{PartField, PartitionDir, StagedParquet}

/** The partition-directory evaluator ([[PartitionDir.verdict]]) against
  * row-level truth, and the static pruning built on it. For every layout
  * the engine writes — identity on string/int/date, `days(ts)`,
  * `bucket(n, int|long|string)`, each with a null directory — and a
  * battery of predicates, a `Some(true)` verdict must hold for every row
  * Spark finds in the directory and a `Some(false)` for none.
  */
class PartitionDirSpec extends AnyFunSuite {
  private lazy val spark = { StagedParquet.ensureCatalog(TestSpark.spark); TestSpark.spark }
  private def tbl(t: String) = s"graft_staged.partdirspec.$t"

  private def ts(s: String) = Timestamp.from(Instant.parse(s))

  /** A layout: table suffix, partition field, the transform column, the
    * column's values (None = null), and the literals its predicates use —
    * the first two present in the data.
    */
  private case class Layout(name: String, field: PartField, transform: Column,
                            values: Seq[Option[Any]], lits: Seq[Any])

  private val layouts = Seq(
    Layout("id_str", PartField("c", "identity"), col("c"),
      Seq("m", "alpha", "a", "mz", "n", "z", "m").map(Some(_)) :+ None,
      Seq("m", "alpha", "b", "zz", "")),
    // U+1F600 (a surrogate pair in UTF-16) sorts after U+FF01 and U+E000
    // in Spark's UTF-8 byte order, before them in java.lang.String's
    Layout("id_utf", PartField("c", "identity"), col("c"),
      Seq("\uD83D\uDE00", "\uFF01", "a", "\uE000", "\uD83D\uDE00").map(Some(_)) :+ None,
      Seq("\uFF01", "\uD83D\uDE00", "\uE000x", "\uFFFF", "")),
    Layout("id_int", PartField("c", "identity"), col("c"),
      Seq(3, 0, -5, 7, 12, 3).map(Some(_)) :+ None,
      Seq(3, 0, 4, -10, 100)),
    Layout("id_date", PartField("c", "identity"), col("c"),
      Seq("2024-01-15", "2024-01-01", "2024-02-01", "2024-01-15")
        .map(d => Some(Date.valueOf(d))) :+ None,
      Seq(Date.valueOf("2024-01-15"), Date.valueOf("2024-01-01"),
        LocalDate.parse("2024-01-20"), Date.valueOf("2023-12-01"),
        Date.valueOf("2024-03-01"))),
    Layout("days_ts", PartField("c", "days"), days(col("c")),
      Seq("2024-03-01T00:00:00Z", "2024-03-01T06:00:00Z", "2024-03-01T23:59:59Z",
        "2024-03-02T00:00:00Z", "2024-03-02T12:00:00Z", "2024-03-03T00:00:01Z",
        "2024-03-03T18:00:00Z").map(s => Some(ts(s))) :+ None,
      Seq(ts("2024-03-01T06:00:00Z"), ts("2024-03-02T00:00:00Z"),
        ts("2024-03-02T12:00:00Z"), Instant.parse("2024-03-03T23:00:00Z"),
        ts("2024-02-28T12:00:00Z"), ts("2024-03-06T00:00:00Z"))),
    Layout("bkt_int", PartField("c", "bucket", 4), bucket(4, col("c")),
      (0 until 12).map(Some(_)) :+ None,
      Seq(3, 7, 1000, 0)),
    Layout("bkt_long", PartField("c", "bucket", 4), bucket(4, col("c")),
      (0L until 12L).map(Some(_)) :+ None,
      Seq(3L, 7L, 1000L, 0L)),
    Layout("bkt_str", PartField("c", "bucket", 4), bucket(4, col("c")),
      (0 until 12).map(i => Some(s"k$i")) :+ None,
      Seq("k3", "k7", "nope", "k0")))

  private def predicates(ls: Seq[Any]): Seq[Filter] = {
    val (a, b) = (ls(0), ls(1))
    ls.flatMap(l => Seq(EqualTo("c", l), GreaterThan("c", l),
      GreaterThanOrEqual("c", l), LessThan("c", l), LessThanOrEqual("c", l))) ++
    Seq(In("c", Array(a, b)), In("c", Array(a, null)), In("c", ls.drop(2).toArray),
      IsNull("c"), IsNotNull("c"),
      And(GreaterThanOrEqual("c", b), LessThan("c", a)),
      Or(EqualTo("c", a), IsNull("c")),
      Or(LessThan("c", b), GreaterThan("c", a)),
      Not(EqualTo("c", a)), Not(IsNull("c")), Not(IsNotNull("c")),
      Not(And(IsNotNull("c"), GreaterThanOrEqual("c", a))),
      And(Or(IsNull("c"), EqualTo("c", a)), Not(In("c", Array(b)))))
  }

  // the row-level meaning of a filter, evaluated by Spark itself
  private def toCol(f: Filter): Column = f match {
    case EqualTo(c, v)            => col(c) === lit(v)
    case In(c, vs)                => col(c).isin(vs.toIndexedSeq: _*)
    case GreaterThan(c, v)        => col(c) > lit(v)
    case GreaterThanOrEqual(c, v) => col(c) >= lit(v)
    case LessThan(c, v)           => col(c) < lit(v)
    case LessThanOrEqual(c, v)    => col(c) <= lit(v)
    case IsNull(c)                => col(c).isNull
    case IsNotNull(c)             => col(c).isNotNull
    case And(l, r)                => toCol(l) && toCol(r)
    case Or(l, r)                 => toCol(l) || toCol(r)
    case Not(g)                   => !toCol(g)
    case other                    => fail(s"no column form for $other")
  }

  private def source(l: Layout): DataFrame = {
    val dt = l.lits.head match {
      case _: String => "string"; case _: Int => "int"; case _: Long => "bigint"
      case _: Date => "date"; case _: Timestamp => "timestamp"
    }
    val rows = l.values.zipWithIndex.map { case (v, i) =>
      org.apache.spark.sql.Row(i.toLong, v.orNull) }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1),
      org.apache.spark.sql.types.StructType.fromDDL(s"id BIGINT, c $dt"))
  }

  private lazy val written: Map[String, DataFrame] = layouts.map { l =>
    val src = source(l)
    src.writeTo(tbl(l.name)).partitionedBy(l.transform).createOrReplace()
    l.name -> src
  }.toMap

  test("verdict is sound against row-level truth on every layout") {
    for (l <- layouts) {
      val t = tbl(l.name)
      val src = written(l.name)
      val schema = spark.table(t).schema
      val preds = predicates(l.lits)
      val dirs = PartitionDir.walk(new Path(StagedParquet.tableDir(spark, t)), 1)
      assert(dirs.exists(_._3 == Seq(PartitionDir.Null)), s"${l.name}: no null directory")
      // each row's directory, from the ids stored in the directory's files
      val files = dirs.flatMap { case (rel, dir, _) =>
        new java.io.File(dir.toUri.getPath).listFiles.toSeq
          .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_"))
          .map(f => f.toURI.getPath -> rel)
      }.toMap
      val dirOf = udf((p: String) => files(new java.net.URI(p).getPath))
      val placed = spark.read.parquet(files.keys.toSeq: _*)
        .select(col("id"), dirOf(input_file_name()).as("rel"))
      val truth = placed.join(src, "id").groupBy("rel")
        .agg(count(lit(1)).as("n"), preds.map(p =>
          sum(when(toCol(p), 1).otherwise(0))): _*)
        .collect().map(r => r.getString(0) ->
          (r.getLong(1), preds.indices.map(i => r.getLong(i + 2))))
        .toMap
      assert(truth.values.map(_._1).sum == l.values.length)
      var decided = Set.empty[Boolean]
      for ((rel, _, vals) <- dirs; (p, i) <- preds.zipWithIndex) {
        val (n, matching) = truth(rel)
        PartitionDir.verdict(p, vals, Seq(l.field), schema) match {
          case Some(true) =>
            assert(matching(i) == n, s"${l.name} $rel: $p holds for $n rows, got ${matching(i)}")
          case Some(false) =>
            assert(matching(i) == 0, s"${l.name} $rel: $p matches ${matching(i)} rows")
          case None => ()
        }
        PartitionDir.verdict(p, vals, Seq(l.field), schema).foreach(decided += _)
      }
      assert(decided == Set(true, false), s"${l.name}: verdicts decided $decided")
    }
  }

  test("static pruning closes what DELETE closes: days IN, identity ranges, null days") {
    val flat = tbl("flat_days")
    written("days_ts").writeTo(flat).createOrReplace()
    val flatStr = tbl("flat_str")
    written("id_str").writeTo(flatStr).createOrReplace()
    def check(t: String, unpruned: String, p: Column, parts: Int): Unit = {
      val df = spark.table(t).filter(p).select("id")
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains(s"partitions=$parts,"), plan.take(1500))
      val got = df.collect().map(_.getLong(0)).sorted.toSeq
      assert(got.nonEmpty)
      assert(got == spark.table(unpruned).filter(p).select("id")
        .collect().map(_.getLong(0)).sorted.toSeq)
    }
    val days = tbl("days_ts")
    // 3 day directories and the null one
    check(days, flat, col("c").isin(ts("2024-03-01T06:00:00Z"), ts("2024-03-03T18:00:00Z")), 2)
    check(days, flat, col("c") >= lit(ts("2024-03-01T00:00:00Z")), 3)
    // regions a, alpha, m, mz, n, z and null: mz, n and z stay
    check(tbl("id_str"), flatStr, col("c") > lit("m"), 3)
    // U+1F600, U+FF01, a, U+E000 and null, ordered as Spark orders strings
    val flatUtf = tbl("flat_utf")
    written("id_utf").writeTo(flatUtf).createOrReplace()
    check(tbl("id_utf"), flatUtf, col("c") > lit("\uFF01"), 1)
    check(tbl("id_utf"), flatUtf, col("c") <= lit("\uFF01"), 3)
    check(tbl("id_utf"), flatUtf, col("c") < lit("\uD83D\uDE00"), 3)
  }

  test("a partition column whose name needs quoting prunes statically and at runtime") {
    import spark.implicits._
    val t = tbl("quoted")
    // (DataFrameWriterV2.partitionedBy re-parses the name unquoted, so the
    // table is created in SQL)
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (id BIGINT, `order-date` STRING) PARTITIONED BY (`order-date`)")
    // 4000 rows: enough for Spark's DPP rule to judge runtime pruning worth it
    (0L until 4000L).map(i => (i, s"d${i % 4}")).toDF("id", "order-date")
      .repartition(col("`order-date`")).writeTo(t).append()
    val static = spark.table(t).filter(col("`order-date`") === "d1")
    val plan = static.queryExecution.executedPlan.toString
    assert(plan.contains("partitions=1,"), plan.take(1500))
    assert(static.count() == 1000)
    // runtime DPP: a selective dim opens 2 of the 4 directories (one file each)
    val dimPath = "/tmp/graft_stage/partdirspec_quoted_dim"
    (0 until 4).map(i => (s"d$i", if (i == 1 || i == 3) "hot" else "cold"))
      .toDF("dk", "temp").write.mode("overwrite").parquet(dimPath)
    val dim = spark.read.parquet(dimPath).filter(col("temp") === "hot")
    val fact = spark.table(t)
    graft.sources.v2.StagedReaderFactory.readersCreated.set(0L)
    val out = fact.join(dim, fact("`order-date`") === dim("dk"))
      .groupBy("`order-date`").count().collect()
    assert(out.map(r => r.getString(0) -> r.getLong(1)).toMap ==
      Map("d1" -> 1000L, "d3" -> 1000L))
    val opened = graft.sources.v2.StagedReaderFactory.readersCreated.get()
    assert(opened == 2L, s"expected the runtime filter to open 2 directories, opened $opened")
  }
}
