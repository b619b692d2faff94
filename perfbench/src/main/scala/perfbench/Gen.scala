package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

/** The benchmark's seeded input generators. Everything here is plain Scala:
  * the program under test only ever sees the files these records are
  * written to, and the oracles check the program against these records.
  *
  * Shares are fixed constants so that two seeds give inputs of the same
  * size and mix; only the draws differ. */
object Gen {

  // ---- stated input mix ---------------------------------------------------
  /** Share of change events that are malformed (unparseable, or without a
    * usable key or op) and must be dropped by the decoder. */
  val MalformedShare = 0.01
  /** Corpus shares: exact duplicates, near-duplicates (about 5 % of words
    * replaced) and training documents carrying a copied eval passage. */
  val ExactDupShare = 0.05
  val NearDupShare = 0.10
  val EvalOverlapShare = 0.05
  /** Words copied from an eval document into a contaminated one: 15 words
    * give 13 shared 3-grams, above the job's overlap threshold of 10. */
  val OverlapWords = 15

  /** Epoch microseconds of 2025-01-01T00:00:00Z, day 0 of the history. */
  val EpochMicros = 1735689600000000L
  val DayMicros = 86400000000L

  private val FirstNames = Vector("Audrey", "Colin", "Marie", "Luc", "Sophie",
    "Paul", "Claire", "Hugo", "Emma", "Louis", "Léa", "Jules", "Chloé",
    "Nina", "Théo", "Manon")
  private val LastNames = Vector("Martin", "Bernard", "Dubois", "Thomas",
    "Robert", "Richard", "Petit", "Durand", "Leroy", "Moreau", "Simon",
    "Laurent", "Lefebvre", "Michel", "Garcia", "David")
  private val BusinessUnits = Vector("Finance", "Support", "Ventes", "R&D", "Marketing")
  val TransportModes = Vector("véhicule thermique/électrique",
    "Vélo/Trottinette/Autres", "Transports en commun", "Marche/running")
  private val Sports = Vector("Course à pied", "Marche", "Randonnée", "Vélo",
    "Trottinette", "Natation", "Football", "Basketball", "Tennis", "Badminton",
    "Yoga", "Pilates", "Musculation", "Escalade", "Boxe", "Danse")
  private val DistanceRange: Map[String, (Int, Int)] = Map(
    "Course à pied" -> (3000, 15000), "Marche" -> (2000, 8000),
    "Randonnée" -> (5000, 20000), "Vélo" -> (10000, 50000),
    "Trottinette" -> (5000, 15000), "Natation" -> (500, 3000))
  private val Comments = Vector("Superbe séance !", "Nouveau record personnel !",
    "Fatigué mais content", "Très bonne sortie", "Temps idéal",
    "Dur dur aujourd'hui", "Avec les collègues", "Objectif atteint")

  // ---- records ------------------------------------------------------------

  final case class Employee(id: Int, first: String, last: String, bu: String,
      gross: Int, contract: String, address: String, transport: String,
      commuteM: Int)

  final case class Activity(id: Int, employee: Int, first: String, last: String,
      startMicros: Long, sport: String, distance: Option[Int], duration: Int,
      comment: Option[String]) {
    /** One canonical string per row; the oracles compare these. */
    def canon: String = Seq(id, employee, first, last, startMicros, sport,
      distance.getOrElse("∅"), duration, comment.getOrElse("∅")).mkString("|")
    def json: String =
      s"""{"id":$id,"id_employee":$employee,"first_name":${Json.str(first)},""" +
        s""""last_name":${Json.str(last)},"start_datetime":$startMicros,""" +
        s""""sport_type":${Json.str(sport)},"distance":${distance.fold("null")(_.toString)},""" +
        s""""activity_duration":$duration,"comment":${comment.fold("null")(Json.str)}}"""
  }

  /** One change event as delivered, plus what the generator meant by it.
    * `valid` events carry the key and the after-image the oracle expects. */
  final case class Event(line: String, valid: Boolean, key: Int, after: Activity)

  final case class Doc(id: Long, text: String)

  def rng(seed: Long, stream: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + stream)

  private def pick[A](r: SplittableRandom, xs: IndexedSeq[A]): A = xs(r.nextInt(xs.size))

  // ---- HR data and activity history --------------------------------------

  def employees(seed: Long, n: Int): IndexedSeq[Employee] = {
    val r = rng(seed, 1)
    (0 until n).map { i =>
      Employee(10001 + i, pick(r, FirstNames), pick(r, LastNames),
        pick(r, BusinessUnits), 25570 + r.nextInt(49421),
        if (r.nextInt(100) < 93) "CDI" else "CDD",
        s"Rue ${r.nextInt(500)}, 34970 Lattes", pick(r, TransportModes),
        500 + r.nextInt(29501))
    }
  }

  def activity(r: SplittableRandom, id: Int, e: Employee, startMicros: Long): Activity = {
    val sport = pick(r, Sports)
    val distance = DistanceRange.get(sport).map { case (lo, hi) => lo + r.nextInt(hi - lo + 1) }
    val duration = distance.fold(1800 + r.nextInt(5401))(d => d / 2 + 600)
    val comment = if (r.nextInt(100) < 29) Some(pick(r, Comments)) else None
    Activity(id, e.id, e.first, e.last, startMicros, sport, distance, duration, comment)
  }

  /** A year (or `days`) of activity history, day by day, so ids grow with
    * time: P(activity) is 0.05 per employee-weekday and 0.15 per
    * weekend day (the reference generator's rates). Ids are 1.. in order. */
  def history(seed: Long, emps: IndexedSeq[Employee], days: Int): IndexedSeq[Activity] = {
    val r = rng(seed, 2)
    val out = mutable.ArrayBuffer.empty[Activity]
    for (d <- 0 until days; e <- emps) {
      val weekend = (d + 2) % 7 >= 5 // 2025-01-01 is a Wednesday
      if (r.nextDouble() < (if (weekend) 0.15 else 0.05)) {
        val start = EpochMicros + d * DayMicros + (6 + r.nextInt(16)) * 3600000000L
        out += activity(r, out.size + 1, e, start)
      }
    }
    out.toIndexedSeq
  }

  // ---- change events --------------------------------------------------------

  private def envelope(before: String, after: String, lsn: Long, op: Char, tsMs: Long) =
    s"""{"payload":{"before":$before,"after":$after,""" +
      s""""source":{"table":"sport_activities","lsn":$lsn},"op":"$op","ts_ms":$tsMs}}"""

  private def malformed(r: SplittableRandom, lsn: Long, tsMs: Long): Event = {
    val line = r.nextInt(4) match {
      case 0 => s"""{"payload":{"before":null,"after":null,"op":"c","ts_ms":$tsMs"""
      case 1 => envelope("null", "null", lsn, 'c', tsMs)
      case 2 => s"""{"payload":{"after":{"id":null,"sport_type":"X"},"op":"u","ts_ms":$tsMs}}"""
      case _ => envelope("""{"id":7}""", "null", lsn, 'x', tsMs)
    }
    Event(line, valid = false, 0, null)
  }

  /** Debezium change-event stream of creates over the activities table.
    * Events are numbered; event i has `ts_ms = t0Ms + i / 2` (two events per
    * millisecond) and `lsn = i + 1`, so both order keys grow along the
    * stream and a file's events all precede the next file's. Created ids
    * start at `firstId`. */
  final class CdcStream(seed: Long, emps: IndexedSeq[Employee], t0Ms: Long,
      firstId: Int = 1) {
    private val r = rng(seed, 3)
    private var i = 0L
    private var nextId = firstId

    private def stamp(): (Long, Long) = { val s = (t0Ms + i / 2, i + 1); i += 1; s }

    /** The next delivered line. */
    def next(): Event = {
      val (ts, lsn) = stamp()
      if (r.nextDouble() < MalformedShare) malformed(r, lsn, ts)
      else {
        val a = activity(r, nextId, pick(r, emps), ts * 1000L)
        nextId += 1
        Event(envelope("null", a.json, lsn, 'c', ts), valid = true, a.id, a)
      }
    }

    /** One file's worth of lines: exactly `n` events. */
    def file(n: Int): IndexedSeq[Event] = IndexedSeq.fill(n)(next())
  }

  // ---- corpus -----------------------------------------------------------------

  private val Syllables = for (c <- "bdfgklmnprstvz"; v <- "aeiou") yield s"$c$v"

  /** 30 000 distinct pseudo-words (two to four syllables). */
  lazy val Vocabulary: IndexedSeq[String] = {
    val seen = mutable.LinkedHashSet.empty[String]
    val r = new SplittableRandom(7)
    while (seen.size < 30000)
      seen += (0 until 2 + r.nextInt(3)).map(_ => pick(r, Syllables)).mkString
    seen.toIndexedSeq
  }

  /** Eval documents are the ones the job holds out: doc_id % 10 == 7. */
  def isEval(id: Long): Boolean = id % 10 == 7

  /** `n` documents of 40-120 words: fresh texts, exact duplicates and
    * near-duplicates of earlier documents, and training documents with a
    * copied passage from an earlier eval document, in the shares above. */
  def corpus(seed: Long, n: Int): IndexedSeq[Doc] = {
    val r = rng(seed, 5)
    val vocab = Vocabulary
    val words = mutable.ArrayBuffer.empty[Array[String]]
    val evalIds = mutable.ArrayBuffer.empty[Int]
    def fresh(): Array[String] = Array.fill(40 + r.nextInt(81))(pick(r, vocab))
    for (id <- 0 until n) {
      val u = r.nextDouble()
      val w =
        if (id < 100) fresh()
        else if (u < ExactDupShare) words(r.nextInt(id)).clone()
        else if (u < ExactDupShare + NearDupShare) {
          val w = words(r.nextInt(id)).clone()
          for (k <- w.indices if r.nextInt(20) == 0) w(k) = pick(r, vocab)
          w
        } else if (u < ExactDupShare + NearDupShare + EvalOverlapShare && !isEval(id)) {
          val src = words(evalIds(r.nextInt(evalIds.size)))
          val at = r.nextInt(src.length - OverlapWords + 1)
          val w = fresh()
          val into = r.nextInt(w.length - OverlapWords + 1)
          System.arraycopy(src, at, w, into, OverlapWords)
          w
        } else fresh()
      words += w
      if (isEval(id)) evalIds += id
    }
    words.indices.map(i => Doc(i.toLong, words(i).mkString(" ")))
  }
}
