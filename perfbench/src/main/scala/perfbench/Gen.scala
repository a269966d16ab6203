package perfbench

import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.{SplittableRandom, UUID}

import scala.collection.mutable

import graft.etl.SnowplowSchema

/** Seeded input generator. Every input the benchmark feeds the program is
  * rendered here from `(seed, sizes)` alone, together with the answer the
  * program must produce, computed without calling the program.
  *
  * The event model mirrors the repository's `events` table (five uniform
  * event types, 1500 users, exponential values with mean 50 over January
  * 2024); the corpus mirrors `documents` (word texts) and `embeddings`
  * (unit 64-dim float vectors around a few cluster centres).
  */
object Gen {

  // ---------------------------------------------------------------- events

  val EventTypes: Vector[String] = Vector("signup", "purchase", "view", "click", "error")
  val Users = 1500
  private val Jan2024Ms = 1704067200000L
  private val MonthMs = 30L * 24 * 3600 * 1000

  /** Bad-row reasons the benchmark plants, one malformed line per reason in
    * turn. The strings are exactly the parsers' error labels.
    */
  val SnowplowReasons: Vector[String] = Vector(
    s"field_count:${SnowplowSchema.NUM_FIELDS - 1}", "missing:event_id",
    "missing:collector_tstamp", "missing:event", "bad_uuid:event_id",
    "bad_int:domain_sessionidx", "bad_double:geo_latitude",
    "bad_timestamp:dvce_created_tstamp", "bad_boolean:br_cookies")
  val AdjustReasons: Vector[String] = Vector(
    "bad_json", "missing:created_at", "bad_bigint:created_at",
    "bad_double:revenue_float", "bad_activity_kind")

  /** Sizes and shares of one Snowplow/Adjust input. */
  final case class FeedSpec(
      files: Int,
      eventsPerFile: Int,
      badShare: Double,
      resendShare: Double,
      resendLagFiles: Int)

  /** One rendered file pair: Snowplow TSV lines and Adjust JSON lines. */
  final case class FilePair(index: Int, snowplow: Vector[String], adjust: Vector[String]) {
    def bytes: Long = (snowplow.iterator ++ adjust.iterator).map(_.length + 1L).sum
  }

  /** Count and exact value sum (in hundredths) of one target's rows. */
  final case class Target(rows: Long, valueSum: BigDecimal)

  /** What the program must commit for a feed. */
  final case class FeedAnswer(
      targets: Map[String, Target],
      adjustByKind: Map[String, Long],
      adjustRevenue: BigDecimal,
      deadLetters: Map[String, Long],
      goodLines: Long,
      resentLines: Long,
      jdbcRowsWritten: Long) {
    def lines: Long = goodLines + resentLines + deadLetters.values.sum
    def jdbcRows: Long = targets.values.map(_.rows).sum

    /** The answer for this feed loaded after `that` (disjoint event ids). */
    def after(that: FeedAnswer): FeedAnswer = FeedAnswer(
      targets = targets.map { case (k, t) =>
        val o = that.targets(k); k -> Target(t.rows + o.rows, t.valueSum + o.valueSum) },
      adjustByKind = (adjustByKind.keySet ++ that.adjustByKind.keySet).map(k =>
        k -> (adjustByKind.getOrElse(k, 0L) + that.adjustByKind.getOrElse(k, 0L))).toMap,
      adjustRevenue = adjustRevenue + that.adjustRevenue,
      deadLetters = (deadLetters.keySet ++ that.deadLetters.keySet).map(k =>
        k -> (deadLetters.getOrElse(k, 0L) + that.deadLetters.getOrElse(k, 0L))).toMap,
      goodLines = goodLines + that.goodLines,
      resentLines = resentLines + that.resentLines,
      jdbcRowsWritten = jdbcRowsWritten + that.jdbcRowsWritten)
  }

  /** Event time of event `id`, to the second it is rendered in. */
  def eventTimeMs(id: Long): Long = Jan2024Ms + id * 25000L

  /** The value column whose sum is checked for each JDBC target. */
  val TargetValueColumn: Map[String, String] = Map(
    "atomic_events" -> "domain_sessionidx",
    "structured_events" -> "se_value",
    "transactions" -> "tr_total",
    "transaction_items" -> "ti_quantity",
    "adjust_events" -> "revenue")

  val AdjustKeys: Seq[String] = Seq("adid", "event_token", "created_at")

  private val tsFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSS")
    .withZone(ZoneOffset.UTC)
  private def ts(ms: Long): String = tsFmt.format(Instant.ofEpochMilli(ms))
  private def cents(c: Long): String = BigDecimal(c, 2).toString

  private val Agents = Vector(
    "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/120.0.0.0 Safari/537.36",
    "Mozilla/5.0 (iPhone; CPU iPhone OS 17_2 like Mac OS X) AppleWebKit/605.1.15 (KHTML, like Gecko) Version/17.2 Mobile/15E148 Safari/604.1",
    "Mozilla/5.0 (Macintosh; Intel Mac OS X 10_15_7) AppleWebKit/605.1.15 (KHTML, like Gecko) Version/17.1 Safari/605.1.15",
    "Mozilla/5.0 (Linux; Android 14; Pixel 8) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/120.0.0.0 Mobile Safari/537.36",
    "Mozilla/5.0 (X11; Linux x86_64; rv:121.0) Gecko/20100101 Firefox/121.0")
  private val Countries = Vector("RU", "KZ", "BY", "DE", "US", "GB")
  private val FieldIndex: Map[String, Int] = SnowplowSchema.FIELDS.map(_._1).zipWithIndex.toMap

  private def uuid(r: SplittableRandom): String = {
    val hi = (r.nextLong() & ~0xF000L) | 0x4000L
    val lo = (r.nextLong() & 0x3FFFFFFFFFFFFFFFL) | Long.MinValue
    new UUID(hi, lo).toString
  }

  /** A good event's rendering: its lines, and what each contributes. */
  private final case class Rendered(
      snowplow: Vector[String], adjust: Option[String],
      rows: Vector[(String, String, Long)], // (table, key, value in hundredths)
      adjustRow: Option[(String, String, Long)]) // (key, kind, revenue hundredths)

  private def line(values: Map[String, String]): Array[String] = {
    val a = Array.fill(SnowplowSchema.NUM_FIELDS)("")
    values.foreach { case (k, v) => a(FieldIndex(k)) = v }
    a
  }

  private def renderEvent(id: Long, r: SplittableRandom): Rendered = {
    val tsMs = eventTimeMs(id) + r.nextLong(24000L)
    val user = r.nextInt(Users)
    val kind = EventTypes(r.nextInt(EventTypes.size))
    val valueC = math.round(-math.log(1.0 - r.nextDouble()) * 5000.0)
    val sessionIdx = 1 + r.nextInt(50)
    val eid = uuid(r)
    val mobile = r.nextInt(3) == 0
    val base = Map(
      "app_id" -> (if (mobile) "qlean-app" else "qlean-web"),
      "platform" -> (if (mobile) "mob" else "web"),
      "etl_tstamp" -> ts(tsMs + 4000), "collector_tstamp" -> ts(tsMs),
      "dvce_created_tstamp" -> ts(tsMs - 500), "event_id" -> eid,
      "txn_id" -> r.nextInt(1000000).toString,
      "name_tracker" -> "cf", "v_tracker" -> "js-2.17.0",
      "v_collector" -> "ssc-2.8.2", "v_etl" -> "spark-enrich-1.0.0",
      "user_id" -> s"u$user", "user_ipaddress" -> s"10.${user % 200}.${r.nextInt(250)}.${1 + r.nextInt(250)}",
      "domain_userid" -> f"${user * 7919L}%016x", "domain_sessionidx" -> sessionIdx.toString,
      "network_userid" -> uuid(r),
      "geo_country" -> Countries(user % Countries.size), "geo_city" -> s"city${user % 40}",
      "geo_latitude" -> s"${40 + user % 20}.5${user % 7}", "geo_longitude" -> s"${30 + user % 30}.2${user % 9}",
      "page_url" -> s"https://qlean.example/p/${r.nextInt(300)}", "page_urlscheme" -> "https",
      "page_urlhost" -> "qlean.example", "page_urlport" -> "443",
      "page_urlpath" -> s"/p/${id % 300}",
      "refr_urlhost" -> "ya.example", "refr_medium" -> "search",
      "mkt_medium" -> "cpc", "mkt_source" -> "ya", "mkt_campaign" -> s"c${user % 12}",
      "useragent" -> Agents(user % Agents.size), "br_name" -> "Chrome",
      "br_features_pdf" -> "1", "br_cookies" -> "1", "br_viewwidth" -> "1920",
      "br_viewheight" -> "1080", "os_name" -> "Android", "dvce_type" -> "Computer",
      "dvce_ismobile" -> (if (mobile) "1" else "0"),
      "dvce_screenwidth" -> "2560", "dvce_screenheight" -> "1440",
      "doc_charset" -> "UTF-8", "derived_tstamp" -> ts(tsMs - 500),
      "dvce_sent_tstamp" -> ts(tsMs - 200), "domain_sessionid" -> uuid(r),
      "event_vendor" -> "com.snowplowanalytics.snowplow", "event_format" -> "jsonschema",
      "event_version" -> "1-0-0", "event_fingerprint" -> f"${r.nextLong()}%016x")
    val lines = mutable.ArrayBuffer.empty[Array[String]]
    val rows = mutable.ArrayBuffer.empty[(String, String, Long)]
    rows += (("atomic_events", eid, sessionIdx * 100L))
    val adid = f"${user * 104729L}%032x"
    val createdAt = tsMs / 1000
    def adjust(kind: String, token: String, revenue: Option[Long]): String = {
      val fields = Seq(
        "activity_kind" -> kind, "event_token" -> token, "app_token" -> "qlean",
        "adid" -> adid, "gps_adid" -> uuid(r), "created_at" -> createdAt.toString,
        "tracker" -> "abc123", "tracker_name" -> "Organic", "network_name" -> "Organic",
        "country" -> Countries(user % Countries.size).toLowerCase,
        "os_name" -> "android", "os_version" -> "14", "device_name" -> "Pixel",
        "is_organic" -> (if (user % 2 == 0) "1" else "0")) ++
        revenue.map(c => Seq("revenue_float" -> cents(c), "currency" -> "USD")).getOrElse(Nil)
      fields.map { case (k, v) => s""""$k":"$v"""" }.mkString("{", ",", "}")
    }
    var adj: Option[String] = None
    var adjRow: Option[(String, String, Long)] = None
    kind match {
      case "view" =>
        lines += line(base ++ Map("event" -> "page_view", "event_name" -> "page_view"))
        if (id % 4 == 0) {
          adj = Some(adjust("session", "sess", None))
          adjRow = Some((s"$adid|sess|$createdAt", "session", 0L))
        }
      case "click" =>
        lines += line(base ++ Map("event" -> "struct", "event_name" -> "event",
          "se_category" -> "ui", "se_action" -> "click", "se_label" -> s"b${id % 17}",
          "se_property" -> "qty", "se_value" -> cents(valueC)))
        rows += (("structured_events", eid, valueC))
      case "purchase" =>
        val order = s"o$id"
        lines += line(base ++ Map("event" -> "transaction", "event_name" -> "transaction",
          "tr_orderid" -> order, "tr_affiliation" -> "web", "tr_total" -> cents(valueC),
          "tr_tax" -> cents(valueC / 5), "tr_shipping" -> "0.00", "tr_city" -> "Moscow",
          "tr_country" -> "RU", "tr_currency" -> "USD", "tr_total_base" -> cents(valueC),
          "base_currency" -> "USD"))
        rows += (("transactions", eid, valueC))
        val itemId = uuid(r)
        val qty = 1 + (id % 3).toInt
        lines += line(base ++ Map("event" -> "transaction_item",
          "event_id" -> itemId, "event_name" -> "transaction_item",
          "ti_orderid" -> order, "ti_sku" -> s"sku-${id % 97}", "ti_name" -> "clean",
          "ti_category" -> "home", "ti_price" -> cents(valueC), "ti_quantity" -> qty.toString,
          "ti_currency" -> "USD"))
        rows += (("atomic_events", itemId, sessionIdx * 100L))
        rows += (("transaction_items", itemId, qty * 100L))
        adj = Some(adjust("event", "ev_pur", Some(valueC)))
        adjRow = Some((s"$adid|ev_pur|$createdAt", "event", valueC))
      case "signup" =>
        lines += line(base ++ Map("event" -> "unstruct", "event_name" -> "sign_up",
          "unstruct_event" -> s"""{"schema":"iglu:com.qlean/sign_up/jsonschema/1-0-0","data":{"u":$user}}"""))
        adj = Some(adjust("install", "inst", None))
        adjRow = Some((s"$adid|inst|$createdAt", "install", 0L))
      case _ => // "error": a page ping carrying the error offsets
        lines += line(base ++ Map("event" -> "page_ping", "event_name" -> "page_ping",
          "pp_xoffset_min" -> "0", "pp_xoffset_max" -> r.nextInt(100).toString,
          "pp_yoffset_min" -> "0", "pp_yoffset_max" -> r.nextInt(4000).toString))
    }
    Rendered(lines.map(_.mkString("\t")).toVector, adj, rows.toVector, adjRow)
  }

  private def badSnowplow(reason: String, good: String): String = {
    val f = good.split("\t", -1)
    def set(name: String, v: String): String = { f(FieldIndex(name)) = v; f.mkString("\t") }
    reason match {
      case r if r.startsWith("field_count:") => f.dropRight(1).mkString("\t")
      case "missing:event_id" => set("event_id", "")
      case "missing:collector_tstamp" => set("collector_tstamp", "")
      case "missing:event" => set("event", "")
      case "bad_uuid:event_id" => set("event_id", "not-a-uuid")
      case "bad_int:domain_sessionidx" => set("domain_sessionidx", "x7")
      case "bad_double:geo_latitude" => set("geo_latitude", "55,75")
      case "bad_timestamp:dvce_created_tstamp" => set("dvce_created_tstamp", "yesterday")
      case "bad_boolean:br_cookies" => set("br_cookies", "yes")
    }
  }

  private def badAdjust(reason: String, r: SplittableRandom): String = {
    val created = (Jan2024Ms + r.nextLong(MonthMs)) / 1000
    val adid = f"${r.nextInt(Users) * 104729L}%032x"
    reason match {
      case "bad_json" => s"""{"activity_kind":"event","adid":"$adid","created_at":"$created""""
      case "missing:created_at" => s"""{"activity_kind":"install","adid":"$adid"}"""
      case "bad_bigint:created_at" => s"""{"activity_kind":"install","adid":"$adid","created_at":"17x$created"}"""
      case "bad_double:revenue_float" =>
        s"""{"activity_kind":"event","adid":"$adid","created_at":"$created","revenue_float":"12,50"}"""
      case "bad_activity_kind" => s"""{"activity_kind":"click","adid":"$adid","created_at":"$created"}"""
    }
  }

  /** Render a feed of `spec.files` file pairs. Event ids start at
    * `firstEvent`, so feeds made for separate targets never share keys.
    * Each file holds `eventsPerFile` events plus its bad lines; re-sent
    * events repeat, byte for byte, lines of an event at least
    * `resendLagFiles` files earlier, so they reach the UPDATE branch.
    */
  def feed(seed: Long, spec: FeedSpec, firstEvent: Long = 0L): (Vector[FilePair], FeedAnswer) = {
    val r = new SplittableRandom(seed)
    val rendered = mutable.ArrayBuffer.empty[Rendered]
    val targets = mutable.Map.empty[String, mutable.Map[String, Long]]
    Seq("atomic_events", "structured_events", "transactions", "transaction_items")
      .foreach(t => targets(t) = mutable.Map.empty)
    val adjust = mutable.Map.empty[String, (String, Long)]
    val dead = mutable.Map.empty[String, Long].withDefaultValue(0L)
    var spBad = 0; var adjBad = 0; var goodLines = 0L; var resent = 0L; var written = 0L
    val files = (0 until spec.files).map { f =>
      val sp = mutable.ArrayBuffer.empty[String]
      val adj = mutable.ArrayBuffer.empty[String]
      (0 until spec.eventsPerFile).foreach { i =>
        val ev = renderEvent(firstEvent + f.toLong * spec.eventsPerFile + i, r)
        rendered += ev
        sp ++= ev.snowplow; adj ++= ev.adjust
        goodLines += ev.snowplow.size + ev.adjust.size
        ev.rows.foreach { case (t, k, v) => targets(t)(k) = v }
        written += ev.rows.size + ev.adjustRow.size
        ev.adjustRow.foreach { case (k, kind, v) => adjust(k) = (kind, v) }
      }
      val nBad = math.round(spec.eventsPerFile * spec.badShare).toInt
      (0 until nBad).foreach { _ =>
        val reason = SnowplowReasons(spBad % SnowplowReasons.size); spBad += 1
        val victim = renderEvent(-1L - r.nextInt(1 << 20), r).snowplow.head
        sp += badSnowplow(reason, victim); dead(reason) += 1
        val aReason = AdjustReasons(adjBad % AdjustReasons.size); adjBad += 1
        adj += badAdjust(aReason, r); dead(aReason) += 1
      }
      val eligible = (f - spec.resendLagFiles + 1) * spec.eventsPerFile
      if (eligible > 0) {
        val nResend = math.round(spec.eventsPerFile * spec.resendShare).toInt
        (0 until nResend).foreach { _ =>
          val ev = rendered(r.nextInt(eligible))
          sp ++= ev.snowplow; adj ++= ev.adjust
          resent += ev.snowplow.size + ev.adjust.size
          written += ev.rows.size + ev.adjustRow.size
        }
      }
      FilePair(f, shuffle(sp.toVector, r), shuffle(adj.toVector, r))
    }.toVector
    val answer = FeedAnswer(
      targets = targets.map { case (t, m) =>
        t -> Target(m.size.toLong, BigDecimal(m.values.sum, 2)) }.toMap +
        ("adjust_events" -> Target(adjust.size.toLong, BigDecimal(adjust.values.map(_._2).sum, 2))),
      adjustByKind = adjust.values.groupBy(_._1).map { case (k, v) => k -> v.size.toLong },
      adjustRevenue = BigDecimal(adjust.values.map(_._2).sum, 2),
      deadLetters = dead.toMap,
      goodLines = goodLines,
      resentLines = resent,
      jdbcRowsWritten = written)
    (files, answer)
  }

  private def shuffle[T](v: Vector[T], r: SplittableRandom): Vector[T] = {
    val a = v.toArray[Any]
    var i = a.length - 1
    while (i > 0) { val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t; i -= 1 }
    a.toVector.asInstanceOf[Vector[T]]
  }

  // ---------------------------------------------------------------- corpus

  final case class Doc(id: Long, lang: String, text: String)
  final case class Vec(id: Long, v: Array[Float])

  /** Sizes and shares of one corpus: a base built in set-up, then epochs. */
  final case class CorpusSpec(
      baseDocs: Int, docsPerEpoch: Int,
      baseVecs: Int, vecsPerEpoch: Int,
      epochs: Int, nearDupShare: Double, queriesPerEpoch: Int)

  /** The corpus, its planted near-duplicate pairs and its query vectors. */
  final case class Corpus(
      base: Vector[Doc], epochs: Vector[Vector[Doc]],
      baseVecs: Vector[Vec], epochVecs: Vector[Vector[Vec]],
      queries: Vector[Vector[Vec]], // per epoch, ids are query ids
      planted: Set[(Long, Long)])

  val Dim = 64
  val Clusters = 16
  private val Langs = Vector("en", "de", "es", "fr", "zh")

  def corpus(seed: Long, spec: CorpusSpec): Corpus = {
    val r = new SplittableRandom(seed ^ 0x5DEECE66DL)
    val consonants = "bcdfghjklmnprstvz"; val vowels = "aeiou"
    val vocab = {
      val s = mutable.LinkedHashSet.empty[String]
      while (s.size < 4000) {
        val n = 2 + r.nextInt(3)
        s += (0 until n).map(_ => s"${consonants(r.nextInt(consonants.length))}${vowels(r.nextInt(5))}").mkString
      }
      s.toVector
    }
    def words(n: Int): Vector[String] = Vector.fill(n)(vocab(r.nextInt(vocab.size)))
    val texts = mutable.HashSet.empty[String]
    val family = mutable.HashMap.empty[Long, Long]
    val all = mutable.ArrayBuffer.empty[Doc]
    var next = 0L
    def fresh(): Doc = {
      var t = words(20 + r.nextInt(41)).mkString(" ")
      while (texts.contains(t)) t = words(20 + r.nextInt(41)).mkString(" ")
      texts += t
      val d = Doc(next, Langs(r.nextInt(Langs.size)), t); family(next) = next; next += 1; d
    }
    val planted = mutable.Set.empty[(Long, Long)]
    val base = Vector.fill(spec.baseDocs)(fresh())
    all ++= base
    val epochs = (0 until spec.epochs).map { _ =>
      val used = mutable.HashSet.empty[Long]
      val batch = (0 until spec.docsPerEpoch).map { _ =>
        val id = next
        val plant = id % 50 != 0 && r.nextDouble() < spec.nearDupShare
        val src = if (plant) Iterator.continually(all(r.nextInt(all.size)))
          .take(20).find(s => s.id % 50 != 0 && !used.contains(family(s.id))) else None
        src match {
          case Some(s) =>
            val w = s.text.split(" ")
            var t = s.text
            while (texts.contains(t)) { w(w.length - 1) = vocab(r.nextInt(vocab.size)); t = w.mkString(" ") }
            texts += t
            family(id) = family(s.id); used += family(id); next += 1
            planted += ((s.id, id))
            Doc(id, s.lang, t)
          case None => fresh()
        }
      }.toVector
      all ++= batch
      batch
    }.toVector
    val centres = Vector.fill(Clusters)(unit(Array.fill(Dim)(r.nextGaussian().toFloat)))
    var vid = 0L
    def vec(): Vec = {
      val c = centres(r.nextInt(Clusters))
      val v = unit(Array.tabulate(Dim)(i => c(i) + 0.1f * r.nextGaussian().toFloat))
      vid += 1; Vec(vid - 1, v)
    }
    val baseVecs = Vector.fill(spec.baseVecs)(vec())
    val indexed = mutable.ArrayBuffer.empty[Vec] ++= baseVecs
    var qid = 0L
    val epochVecs = mutable.ArrayBuffer.empty[Vector[Vec]]
    val queries = (0 until spec.epochs).map { _ =>
      val e = Vector.fill(spec.vecsPerEpoch)(vec())
      epochVecs += e; indexed ++= e
      Vector.fill(spec.queriesPerEpoch) {
        val s = indexed(r.nextInt(indexed.size))
        qid += 1
        Vec(qid - 1, unit(Array.tabulate(Dim)(i => s.v(i) + 0.02f * r.nextGaussian().toFloat)))
      }
    }.toVector
    Corpus(base, epochs, baseVecs, epochVecs.toVector, queries, planted.toSet)
  }

  private def unit(a: Array[Float]): Array[Float] = {
    val n = math.sqrt(a.map(x => x.toDouble * x).sum).toFloat
    a.map(_ / n)
  }

  // ------------------------------------------------------------ references

  /** Exact near-duplicate pairs `(a, b)`, `a < b`, at word 3-shingle
    * Jaccard >= `threshold`, among docs corpus preparation keeps (ids not in
    * the held-out `id % 50 == 0` split), with at least one doc in `fresh`.
    */
  def nearDupPairs(docs: Seq[Doc], fresh: Set[Long], threshold: Double = 0.8): Set[(Long, Long)] = {
    val kept = docs.filter(_.id % 50 != 0)
    val sh = kept.map(d => d.id -> d.text.split(" ").sliding(3).map(_.mkString(" ")).toSet).toMap
    val byShingle = mutable.HashMap.empty[String, mutable.ArrayBuffer[Long]]
    sh.foreach { case (id, s) => s.foreach(x => byShingle.getOrElseUpdate(x, mutable.ArrayBuffer.empty) += id) }
    val cands = mutable.HashSet.empty[(Long, Long)]
    byShingle.valuesIterator.filter(_.size > 1).foreach { ids =>
      for (a <- ids; b <- ids if a < b && (fresh(a) || fresh(b))) cands += ((a, b))
    }
    cands.filter { case (a, b) =>
      val x = sh(a); val y = sh(b)
      val inter = x.count(y)
      inter.toDouble / (x.size + y.size - inter) >= threshold
    }.toSet
  }

  /** Union-find components of `pairs`, as node -> smallest member id. */
  def components(pairs: Set[(Long, Long)]): Map[Long, Long] = {
    val parent = mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val root = find(p); parent(x) = root; root }
    }
    pairs.foreach { case (a, b) =>
      val ra = find(a); val rb = find(b)
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.toSeq.map(x => x -> find(x)).toMap
  }

  /** Exact top-`k` ids by cosine over `corpus`, per query. */
  def topK(queries: Seq[Vec], corpus: Seq[Vec], k: Int): Map[Long, Set[Long]] =
    queries.map { q =>
      q.id -> corpus.map { c =>
        var s = 0.0; var i = 0
        while (i < Dim) { s += q.v(i).toDouble * c.v(i); i += 1 }
        (-s, c.id)
      }.sorted.take(k).map(_._2).toSet
    }.toMap
}
