package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.collection.mutable

/** Deterministic generator of pet-license CSV drops in the reference's raw
  * schema (`_id, Year, FSA, ANIMAL_TYPE, PRIMARY_BREED`).
  *
  * Defects are planted at exact counts, not at random rates, so the health
  * views have exact expected values. At the reference's size (173,937 bronze
  * rows) the plant is the published one: 301 rows with a missing or
  * malformed FSA, and 81.44% of silver rows mapped by the 552-pair breed
  * dim. Other sizes scale the same proportions. Also planted:
  *   - rows with a null Year or a null breed, which silver filters out;
  *   - re-deliveries: each day re-sends 1% of the previous day's rows;
  *   - two days that must abort: one with an ANIMAL_TYPE outside
  *     {DOG, CAT}, one with a duplicate `_id` inside the batch.
  *
  * The same seed always gives the same drops.
  */
object Drops {

  val ReferenceRows = 173937
  val ReferenceBadFsa = 301
  val MappedShare = 0.8144
  val NullYearShare = 0.0011
  val NullBreedShare = 0.0007
  val RedeliveryShare = 0.01
  val AbortRows = 200

  sealed trait Kind
  case object Regular extends Kind
  case object BadAnimalType extends Kind
  case object DuplicateId extends Kind

  final case class Rec(id: Int, year: Option[Int], fsa: Option[String],
      animal: String, breed: Option[String])

  /** What loading a day must add to the health views. Keys of `byGroup`
    * are (Year, ANIMAL_TYPE) of silver rows: (rows, mapped rows, null-FSA
    * rows), the shape of the gold quality view.
    */
  final case class Tally(bronzeRows: Long = 0, bronzeBadFsa: Long = 0,
      silverRows: Long = 0, silverMapped: Long = 0, silverNullFsa: Long = 0,
      byGroup: Map[(Int, String), (Long, Long, Long)] = Map.empty) {
    def +(o: Tally): Tally = Tally(bronzeRows + o.bronzeRows,
      bronzeBadFsa + o.bronzeBadFsa, silverRows + o.silverRows,
      silverMapped + o.silverMapped, silverNullFsa + o.silverNullFsa,
      (byGroup.keySet ++ o.byGroup.keySet).map { k =>
        val (a, b, c) = byGroup.getOrElse(k, (0L, 0L, 0L))
        val (x, y, z) = o.byGroup.getOrElse(k, (0L, 0L, 0L))
        k -> (a + x, b + y, c + z)
      }.toMap)
  }

  final case class Day(date: String, kind: Kind, recs: Seq[Rec], tally: Tally)

  /** Normalized breed key, as `graft.operators.Standardize.normalizedKey`. */
  def key(s: String): String =
    s.trim.toUpperCase(java.util.Locale.ROOT).replaceAll("[^A-Z0-9]", "")

  /** `rows` records split evenly over `days` daily drops. */
  def even(rows: Int, days: Int): Seq[Int] =
    Seq.fill(days - 1)(rows / days) :+ (rows - (days - 1) * (rows / days))

  /** Distinct license records in regular daily drops of the given sizes,
    * one day apart from `start`. With `aborts`, the two abort days follow
    * regular days 1 and 2.
    */
  def generate(seed: Long, sizes: Seq[Int], start: java.time.LocalDate,
      aborts: Boolean): Seq[Day] = {
    val rows = sizes.sum
    val rnd = new scala.util.Random(seed)
    val dimVariants = graft.pipeline.BreedMapping.referencePairs.map(_._1)
      .groupBy(key).values.map(_.head).toVector.sortBy(key)
    val dimKeys = dimVariants.map(key).toSet
    val unmappedVariants = graft.pipeline.BreedMapping.referencePairs.map(_._2)
      .distinct.sorted.flatMap(s => Seq(s"$s MIX", s"$s X")).filterNot(v => dimKeys(key(v)))
      .toVector
    val fsas = (for (d <- 1 to 9; c <- 'A' to 'Z') yield s"M$d$c").toVector
    val badFsas = Vector("M5", "5MV", "M55", "MM5V", "M-5V", "0000")

    def count(share: Double): Int = math.round(share * rows).toInt
    val nBadFsa = math.round(ReferenceBadFsa.toDouble * rows / ReferenceRows).toInt
    val nNullYear = count(NullYearShare)
    val nNullBreed = count(NullBreedShare)
    val eligible = rows - nNullYear - nNullBreed
    val nMapped = math.round(MappedShare * eligible).toInt

    // roles by exact count: a prefix of the shuffled record positions
    def flags(positions: IndexedSeq[Int]): Array[Boolean] = {
      val a = new Array[Boolean](rows)
      positions.foreach(a(_) = true)
      a
    }
    val all = 0 until rows
    val badFsa = flags(rnd.shuffle(all: IndexedSeq[Int]).take(nBadFsa))
    val nulls = rnd.shuffle(all: IndexedSeq[Int])
    val nullYear = flags(nulls.take(nNullYear))
    val nullBreed = flags(nulls.slice(nNullYear, nNullYear + nNullBreed))
    val mapped = flags(rnd.shuffle(all.filterNot(i => nullYear(i) || nullBreed(i))).take(nMapped))

    // skewed popularity, so top-N rankings have a real head and tail
    def zipf(n: Int): Int = math.min(n - 1, (n * math.pow(rnd.nextDouble(), 2.5)).toInt)
    def render(v: String): String = rnd.nextInt(4) match {
      case 0 => v.toLowerCase(java.util.Locale.ROOT)
      case 1 => " " + v + " "
      case 2 if v.length > 3 => v.take(3) + "-" + v.drop(3)
      case _ => v
    }
    val baseId = 1000000 + rnd.nextInt(1000000)
    val recs = all.map { i =>
      val animal = if (rnd.nextInt(5) < 3) "DOG" else "CAT"
      Rec(baseId + i,
        if (nullYear(i)) None else Some(2023 + rnd.nextInt(3)),
        if (badFsa(i)) (if (rnd.nextInt(3) == 0) None else Some(badFsas(rnd.nextInt(badFsas.size))))
        else Some(fsas(zipf(fsas.size))),
        if (rnd.nextInt(10) == 0) render(animal) else animal,
        if (nullBreed(i)) None
        else if (mapped(i)) Some(render(dimVariants(zipf(dimVariants.size))))
        else Some(render(unmappedVariants(zipf(unmappedVariants.size)))))
    }

    def tally(fresh: Seq[Rec]): Tally = {
      val silver = fresh.filter(r => r.year.isDefined && r.breed.isDefined)
      def isBad(r: Rec) = badFsa(r.id - baseId)
      def isMapped(r: Rec) = mapped(r.id - baseId)
      val groups = silver.groupBy(r => (r.year.get, r.animal.trim.toUpperCase(java.util.Locale.ROOT)))
        .map { case (k, rs) => k -> (rs.size.toLong, rs.count(isMapped).toLong, rs.count(isBad).toLong) }
      Tally(fresh.size, fresh.count(isBad), silver.size,
        silver.count(isMapped), silver.count(isBad), groups)
    }

    val regular = sizes.scanLeft(0)(_ + _).sliding(2).map { case Seq(a, b) => recs.slice(a, b) }
      .toIndexedSeq
    val abortDays: Map[Int, Day] =
      if (!aborts) Map.empty
      else {
        val ids = baseId + rows + 1000
        def batch(first: Int) = (0 until AbortRows).map(i =>
          Rec(first + i, Some(2024), Some("M5V"), "DOG", Some("BEAGLE")))
        val badType = batch(ids).updated(AbortRows / 2,
          Rec(ids + AbortRows / 2, Some(2024), Some("M5V"), "BIRD", Some("BUDGIE")))
        val dupBase = ids + AbortRows
        val dup = batch(dupBase).updated(AbortRows - 1, batch(dupBase).head)
        Map(1 -> Day("", BadAnimalType, badType, Tally()),
          2 -> Day("", DuplicateId, dup, Tally()))
      }
    val seq = mutable.ArrayBuffer.empty[Day]
    regular.indices.foreach { d =>
      val again = if (d == 0) Nil
        else rnd.shuffle(regular(d - 1): Seq[Rec])
          .take(math.ceil(RedeliveryShare * regular(d - 1).size).toInt)
      val offered = rnd.shuffle(regular(d) ++ again)
      seq += Day("", Regular, offered, tally(regular(d)))
      abortDays.get(d + 1).foreach(seq += _)
    }
    seq.zipWithIndex.map { case (day, i) => day.copy(date = start.plusDays(i).toString) }.toSeq
  }

  /** Write each day as `ingestion_date=<date>/part-<k>.csv` under `rawDir`,
    * split into `files` parts.
    */
  def write(rawDir: Path, days: Seq[Day], files: Int): Unit = days.foreach { d =>
    val dir = rawDir.resolve(s"ingestion_date=${d.date}")
    Files.createDirectories(dir)
    val per = math.max(1, (d.recs.size + files - 1) / files)
    d.recs.grouped(per).zipWithIndex.foreach { case (part, k) =>
      val sb = new StringBuilder("_id,Year,FSA,ANIMAL_TYPE,PRIMARY_BREED\n")
      part.foreach { r =>
        sb.append(r.id).append(',').append(r.year.fold("")(_.toString)).append(',')
          .append(r.fsa.getOrElse("")).append(',').append(r.animal).append(',')
          .append(r.breed.getOrElse("")).append('\n')
      }
      Files.write(dir.resolve(f"part-$k%03d.csv"),
        sb.toString.getBytes(StandardCharsets.UTF_8))
    }
  }
}
