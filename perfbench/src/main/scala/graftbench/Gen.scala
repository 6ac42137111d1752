package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.time.LocalDateTime
import java.util.SplittableRandom

/** Seeded generator of `etl_load`'s dirty CSV batches (the
  * `llm_iterative` corpus comes from `corpus.py`). The same seed always
  * yields the same bytes: every value is drawn from one `SplittableRandom`
  * seeded by the run's seed, in a fixed order, and never from the clock.
  */
object Gen {

  /** Independent stream per purpose, so a change to one input never shifts
    * the values of another.
    */
  def rng(seed: Long, purpose: String): SplittableRandom =
    new SplittableRandom(seed * 1000003L ^ purpose.hashCode.toLong)

  private def pick[T](r: SplittableRandom, xs: IndexedSeq[T]): T = xs(r.nextInt(xs.length))

  /** One dirty CSV batch as the reference pipeline receives it, and what it
    * means: the key of every row and the keys the delete after it removes.
    */
  final case class CsvBatch(path: Path, rows: Int, keys: Array[Int], staleKeys: Array[Int])

  /** JSON schema of the dirty batches, named the way the sanitized header
    * reads (`OBJECTID_1` becomes `objectid`, `PARCEL#NUM` becomes
    * `parcel_num`).
    */
  val CsvSchemaJson: String =
    """[{"name": "objectid", "type": "integer"}, {"name": "parcel_num", "type": "string"},
      | {"name": "owner_name", "type": "string"}, {"name": "market_value", "type": "float"},
      | {"name": "sale_date", "type": "timestamp"}, {"name": "shape", "type": "geometry"},
      | {"name": "batch_id", "type": "integer"}]""".stripMargin

  private val NaiveFormat = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
  private val Owners = Vector("SMITH JOHN", "GARCIA MARIA", "NGUYEN ANH", "O'BRIEN KATE",
    "MÜLLER JÖRG", "PEÑA JOSÉ", "LÓPEZ ANA", "CHEN WEI", "DUBOIS RENÉ", "KOWALSKI PIOTR")

  /** A WKT in EPSG:2272 feet (Philadelphia's state plane), in one of the
    * shapes the reference cleans: Z/M dimensions, bare POLYGONs that must
    * become MULTIPOLYGONs, an `SRID=2272;` prefix, and QNAN coordinates.
    */
  private def shape(r: SplittableRandom): String = {
    def xy = f"${2660000 + r.nextInt(60000)}%d.${r.nextInt(100)}%02d ${220000 + r.nextInt(80000)}%d.${r.nextInt(100)}%02d"
    val body = r.nextInt(6) match {
      case 0 => s"POINT ($xy)"
      case 1 => s"POINT Z ($xy ${r.nextInt(300)}.0)"
      case 2 => s"POINT Z ($xy 1.#QNAN000)"
      case 3 =>
        val a = xy
        s"POLYGON (($a, $xy, $xy, $a))"
      case 4 =>
        val a = xy
        s"POLYGON Z (($a 0, $xy 0, $xy 0, $a 0))"
      case _ => s"LINESTRING M ($xy 1, $xy 2)"
    }
    if (r.nextInt(3) == 0) s"SRID=2272;$body" else body
  }

  /** A pool of `count` dirty CSV batches of about `rows` rows each, every
    * batch a directory of `parts` CSV files (an extract split in parts).
    * Keys are drawn from `keySpace`, so later batches update earlier rows;
    * each batch also names a few stale keys for the delete-stale step.
    * Batch `latin1Batch` is latin-1; every other batch is UTF-8 with a BOM. Every file
    * has a `#` in the header and an `objectid_N` column; UTF-8 files carry
    * NUL bytes.
    */
  def csvBatches(dir: Path, seed: Long, count: Int, rows: Int, parts: Int,
                 keySpace: Int, latin1Batch: Int): IndexedSeq[CsvBatch] = {
    val r = rng(seed, "csv")
    (0 until count).map { b =>
      val latin1 = b == latin1Batch
      val keys = Array.fill(rows)(r.nextInt(keySpace)).distinct
      val batchDir = Files.createDirectories(dir.resolve(f"batch-$b%03d"))
      keys.grouped((keys.length + parts - 1) / parts).zipWithIndex.foreach { case (part, n) =>
        val sb = new StringBuilder
        if (!latin1) sb.append('\uFEFF')
        sb.append("OBJECTID_1,PARCEL#NUM,Owner_Name,MARKET_VALUE,SALE_DATE,SHAPE,BATCH_ID\n")
        part.foreach { k =>
          val owner0 = pick(r, Owners)
          val owner = if (!latin1 && r.nextInt(8) == 0) owner0.patch(2, "\u0000", 0) else owner0
          val naive = LocalDateTime.of(2015, 1, 1, 0, 0)
            .plusSeconds(r.nextInt(10 * 365 * 24 * 3600).toLong)
          sb.append(k).append(',')
            .append(f"${r.nextInt(1000000)}%09d").append(',')
            .append(owner).append(',')
            .append(f"${r.nextInt(2000000)}%d.${r.nextInt(100)}%02d").append(',')
            .append(naive.format(NaiveFormat)).append(',')
            .append('"').append(shape(r)).append('"').append(',')
            .append(b).append('\n')
        }
        Files.write(batchDir.resolve(f"part-$n%02d.csv"), sb.toString.getBytes(
          if (latin1) StandardCharsets.ISO_8859_1 else StandardCharsets.UTF_8))
      }
      val stale = Array.fill(math.max(1, keys.length / 50))(r.nextInt(keySpace)).distinct.sorted
      CsvBatch(batchDir, keys.length, keys, stale)
    }
  }
}
