package etlbench

import scala.util.Random

/** Seeded input generators. The same seed gives the same inputs; the
  * program only ever sees what these produce.
  */
object Gen {

  private val FirstNames = Vector("Timothy", "Anna", "Marek", "Sofia", "Jonas", "Lena", "Pedro",
    "Chloe", "Omar", "Ingrid", "Kenji", "Priya", "Lucas", "Maria", "Elias", "Nora", "Victor",
    "Hanna", "Felix", "Julia", "Andre", "Clara", "Tomas", "Ella", "Samuel", "Mila", "Oskar",
    "Alice", "Rafael", "Greta", "David", "Irene", "Hugo", "Paula", "Stefan", "Vera", "Adrian",
    "Lotte", "Mateo", "Sara")
  private val LastNames = Vector("DeChant", "Kowalski", "Andersen", "Moreau", "Silva", "Tanaka",
    "Novak", "Fischer", "Rossi", "Haddad", "Larsen", "Schmidt", "Garcia", "Okafor", "Dubois",
    "Lindqvist", "Costa", "Weber", "Ivanova", "Brennan", "Yamada", "Horvat", "Keller", "Nilsen",
    "Ortega", "Petrov", "Quinn", "Romano", "Sato", "Vogel", "Walsh", "Zimmer", "Bauer", "Castro",
    "Eriksen", "Franke", "Gomez", "Hoffmann", "Jansen", "Krause", "Meyer", "Nowak", "Pereira",
    "Richter", "Santos", "Thomsen", "Vidal", "Wagner", "Young", "Ziegler")

  // ---------------------------------------------------------------- OData

  /** ByD analytics-report rows (FIXTURES.md A1): every value a string,
    * dates as `/Date(ms)/`, a `__metadata` object spilled onto every
    * row, an unselected field, exact duplicate rows and rows that only
    * become duplicates once projected to the selected fields.
    */
  object OData {
    val Structure = "C0CHAR_STRUCTURE"
    val Candidates = Seq("COCHAR_STRUCTURE", Structure) // the first one 404s
    val Select = Seq("TEMPLOYEE_UUID", "CEMPLOYEE_UUID", "C0DATEFROM", "C0DATETO", "KCLEAVERS")
    val Rename = Map("TEMPLOYEE_UUID" -> "Employee", "CEMPLOYEE_UUID" -> "Employee ID",
      "C0DATEFROM" -> "Date From", "C0DATETO" -> "Date To", "KCLEAVERS" -> "K Cleavers",
      Structure -> "Structure")
    val Order = Seq("Employee", "Employee ID", "Date From", "Date To", "K Cleavers", "Structure")
    val Entity = "RPZ13203A10283FF8DF90F8B6QueryResults"

    def rows(seed: Long, n: Int, nCodes: Int): Vector[Map[String, String]] = {
      val rng = new Random(seed)
      val alnum = "ABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"
      val codes = Vector.fill(nCodes)(Iterator.fill(25)(alnum(rng.nextInt(alnum.length))).mkString)
      // skewed structure sizes: code k weighs 1 + k % 4. Codes and
      // duplicate sources follow the row index, not the generator, so
      // every seed serves the same number of rows per code and the
      // connector sends the same number of requests.
      val weighted = codes.zipWithIndex.flatMap { case (c, k) => Vector.fill(1 + k % 4)(c) }
      val nEmp = math.max(1, n / 6)
      val day = 86400000L
      val base = 1704067200000L // 2024-01-01
      def meta(id: String) =
        s"""{"uri": "https://my.host/sap/byd/odata/analytics.svc/$Entity('$id')", "type": "sapbyd.RPZ13203A10283FF8DF90F8B6QueryResult"}"""
      def row(i: Int): Map[String, String] = {
        val e = rng.nextInt(nEmp)
        val from = base + rng.nextInt(730) * day
        Map(
          "TEMPLOYEE_UUID" -> s"${FirstNames(e % FirstNames.size)} ${(e / 7 % 26 + 'A').toChar}. ${LastNames(e % LastNames.size)}",
          "CEMPLOYEE_UUID" -> e.toString,
          "C0DATEFROM" -> s"/Date($from)/",
          "C0DATETO" -> s"/Date(${from + rng.nextInt(365) * day})/",
          "KCLEAVERS" -> rng.nextInt(2).toString,
          Structure -> weighted(i % weighted.size),
          "KCHEADCOUNT" -> rng.nextInt(1000).toString,
          "__metadata" -> meta(s"ID$i"))
      }
      val nBase = n * 85 / 100
      val baseRows = Vector.tabulate(nBase)(row)
      val exactDups = Vector.tabulate(n / 10)(j => baseRows((j * 7919L % nBase).toInt))
      val projDups = Vector.tabulate(n - nBase - n / 10) { j =>
        baseRows(((j * 104729L + 13) % nBase).toInt) ++
          Map("KCHEADCOUNT" -> rng.nextInt(1000).toString, "__metadata" -> meta(s"D$j"))
      }
      rng.shuffle(baseRows ++ exactDups ++ projDups)
    }

    /** The CSV the job must write, computed without the program: the
      * distinct projection, reordered, one line per row.
      */
    def expectedLines(rows: Seq[Map[String, String]]): Vector[String] =
      rows.iterator.map(r => (Select :+ Structure).map(r).mkString(",")).distinct.toVector

    val expectedHeader: String = Order.mkString(",")
  }

  // --------------------------------------------------------------- corpus

  final case class Doc(id: Long, text: String, lang: String, source: String)

  // The shape of sf0.1 `documents.parquet`, measured: 5,000 documents of
  // 10-100 words (uniform) drawn uniformly from these 30 words, lang en
  // about 41% and zh, es, fr, de about 15% each, source `src<id % 20>`;
  // 8 documents are exact copies of another and 248 are near copies (an
  // existing document with " dup" appended, a few with it two or three
  // times; Jaccard 0.8-0.99 to their source).
  private val Vocab = Vector("a", "agg", "batch", "big", "column", "customer", "data", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order", "part", "query", "row",
    "scan", "slow", "small", "sort", "spark", "stream", "table", "the", "value", "vector", "window")
  private val Langs = Vector.fill(8)("en") ++ Vector.fill(3)("zh") ++ Vector.fill(3)("es") ++
    Vector.fill(3)("fr") ++ Vector.fill(3)("de")

  /** `n` documents shaped like sf0.1 `documents.parquet`, its own exact
    * and near copies included at the fixture's rates, then `nExact`
    * planted exact copies and `nNear` planted near copies of documents
    * whose text is unique. A planted near copy is its source with one
    * word appended, and its word-3-shingle Jaccard to the source is
    * checked to be at least 0.9. Returns the corpus and the planted
    * (source, near copy) id pairs.
    */
  def corpus(seed: Long, n: Int, nExact: Int, nNear: Int): (Vector[Doc], Vector[(Long, Long)]) = {
    val rng = new Random(seed)
    def word() = Vocab(rng.nextInt(Vocab.size))
    def doc(id: Int, text: String) = Doc(id.toLong, text, Langs(rng.nextInt(Langs.size)), s"src${id % 20}")
    val texts = scala.collection.mutable.LinkedHashSet.empty[String]
    val nOwnExact = n * 8 / 5000
    val nOwnNear = n * 248 / 5000
    while (texts.size < n - nOwnExact - nOwnNear)
      texts += Vector.fill(10 + rng.nextInt(91))(word()).mkString(" ")
    val distinct = texts.toVector
    while (texts.size < n - nOwnExact) {
      val dups = if (rng.nextInt(50) == 0) 2 + rng.nextInt(2) else 1
      texts += distinct(rng.nextInt(distinct.size)) + " dup" * dups
    }
    val ownCopies = Vector.fill(nOwnExact)(distinct(rng.nextInt(distinct.size)))
    val base = rng.shuffle(texts.toVector ++ ownCopies).zipWithIndex.map { case (t, i) => doc(i, t) }

    // planted copies get ids after the base; a planted near copy's source
    // must keep its id through exact dedup, so its text is unique
    val unique = base.groupBy(_.text).collect { case (_, Seq(d)) => d }.toVector.sortBy(_.id)
    val exact = Vector.tabulate(nExact)(i => doc(n + i, base(rng.nextInt(n)).text))
    val near = Vector.newBuilder[Doc]
    val planted = Vector.newBuilder[(Long, Long)]
    val used = scala.collection.mutable.Set.empty[Long]
    while (used.size < nNear) {
      val src = unique(rng.nextInt(unique.size))
      val text = src.text + " " + word()
      if (!used(src.id) && !texts(text) &&
          Checks.jaccard(Checks.shingles(src.text, 3), Checks.shingles(text, 3)) >= 0.9) {
        val id = n + nExact + used.size
        near += doc(id, text)
        planted += src.id -> id.toLong
        used += src.id
        texts += text
      }
    }
    (base ++ exact ++ near.result(), planted.result())
  }

  // ------------------------------------------------------------ customers

  /** `n` customer names keyed like the sf0.1 `join_er_clusters` slice
    * (c_custkey multiples of 10). One in ten is a one-edit typo of an
    * earlier name (substitution, insertion, deletion or adjacent
    * transposition). Returns the rows and the planted (original, typo)
    * pairs.
    */
  def customers(seed: Long, n: Int): (Vector[(Long, String)], Vector[(Long, Long)]) = {
    val rng = new Random(seed)
    val names = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    val byId = scala.collection.mutable.Map.empty[Long, String]
    val typos = Vector.newBuilder[(Long, Long)]
    val letters = "abcdefghijklmnopqrstuvwxyz"
    def edit(s: String): String = {
      val i = rng.nextInt(s.length)
      rng.nextInt(4) match {
        case 0 => s.updated(i, letters(rng.nextInt(26)))
        case 1 => s.patch(i, letters(rng.nextInt(26)).toString, 0)
        case 2 if s.length > 4 => s.patch(i, "", 1)
        case _ =>
          val j = math.min(i, s.length - 2)
          s.patch(j, s"${s(j + 1)}${s(j)}", 2)
      }
    }
    while (names.size < n) {
      val id = 10L * (names.size + 1)
      val (s, src) =
        if (names.size % 10 == 9) {
          val srcId = 10L * (rng.nextInt(names.size) + 1)
          val t = edit(byId(srcId))
          (t, if (Checks.damerauLevenshtein(byId(srcId), t) == 1) Some(srcId) else None)
        } else
          (s"${FirstNames(rng.nextInt(FirstNames.size))} ${LastNames(rng.nextInt(LastNames.size))}" +
            (if (rng.nextBoolean()) s" ${LastNames(rng.nextInt(LastNames.size))}" else ""), None)
      if (!names.contains(s) && (names.size % 10 != 9 || src.isDefined)) {
        names(s) = id
        byId(id) = s
        src.foreach(typos += _ -> id)
      }
    }
    (names.iterator.map { case (s, id) => (id, s) }.toVector, typos.result())
  }

  // --------------------------------------------------------------- events

  final case class Event(eventId: Long, tsMs: Long, userId: Long, eventType: String, value: Double)

  private val EventTypes = Vector("search", "view", "click", "cart", "purchase", "share", "login", "logout")

  /** Per-user sessions walking a seeded transition matrix over eight
    * event types, so the type-transition graph has uneven weights.
    */
  def events(seed: Long, n: Int, users: Int): Vector[Event] = {
    val rng = new Random(seed)
    val k = EventTypes.size
    val trans = Vector.fill(k)(Vector.fill(k)(rng.nextDouble() * rng.nextDouble()))
    def step(from: Int): Int = {
      val row = trans(from)
      var x = rng.nextDouble() * row.sum
      var j = 0
      while (j < k - 1 && x >= row(j)) { x -= row(j); j += 1 }
      j
    }
    val state = Array.fill(users)(rng.nextInt(k))
    val t0 = 1704067200000L
    Vector.tabulate(n) { i =>
      val u = rng.nextInt(users)
      state(u) = step(state(u))
      Event(i.toLong, t0 + i * 1000L + rng.nextInt(1000), u.toLong, EventTypes(state(u)),
        math.round(rng.nextDouble() * 10000) / 100.0)
    }
  }
}
