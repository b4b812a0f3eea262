package graft.perfbench

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.SplittableRandom
import java.util.zip.GZIPOutputStream

import com.github.luben.zstd.Zstd

/** Seeded generator of full-width enriched events packed into Snowplow
  * frames. Every frame is derived from (seed, frame index) alone, so the
  * frames can be built in parallel and still come out byte-identical for
  * one seed.
  *
  * A line has the 131 tab-separated fields of the enriched TSV format with
  * `collector_tstamp` at index 3. Values repeat the way real tracker
  * traffic does: a few apps, trackers, pages, user agents and geo rows,
  * with a per-event UUID, timestamps and a context JSON blob.
  */
object EnrichedGen {
  val Fields = 131
  val EventsPerFrame = 200

  private val apps = Array("shop-web", "shop-ios", "shop-android", "blog", "checkout")
  private val platforms = Array("web", "mob", "app", "srv")
  private val events = Array("page_view", "page_ping", "struct", "unstruct", "transaction")
  private val trackers = Array("js-3.24.2", "android-5.4.1", "ios-5.6.0", "py-1.0.2")
  private val pages = (0 until 200).map(i =>
    s"https://shop.example.com/${Seq("p", "c", "search", "cart", "blog")(i % 5)}/item-$i")
  private val titles = (0 until 50).map(i => s"Example Shop | Product $i - Free delivery")
  private val agents = Array(
    "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/124.0.0.0 Safari/537.36",
    "Mozilla/5.0 (iPhone; CPU iPhone OS 17_4 like Mac OS X) AppleWebKit/605.1.15 (KHTML, like Gecko) Version/17.4 Mobile/15E148 Safari/604.1",
    "Mozilla/5.0 (Macintosh; Intel Mac OS X 10_15_7) AppleWebKit/605.1.15 (KHTML, like Gecko) Version/17.3 Safari/605.1.15",
    "Mozilla/5.0 (Linux; Android 14; Pixel 8) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/123.0.0.0 Mobile Safari/537.36",
    "Mozilla/5.0 (X11; Linux x86_64; rv:125.0) Gecko/20100101 Firefox/125.0")
  private val geos = Array(
    Array("GB", "ENG", "London", "EC1A", "51.5085", "-0.1257", "England", "Europe/London"),
    Array("US", "CA", "San Francisco", "94107", "37.7697", "-122.3933", "California", "America/Los_Angeles"),
    Array("DE", "BE", "Berlin", "10117", "52.5244", "13.4105", "Berlin", "Europe/Berlin"),
    Array("FR", "IDF", "Paris", "75001", "48.8534", "2.3488", "Ile-de-France", "Europe/Paris"),
    Array("JP", "13", "Tokyo", "100-0001", "35.6895", "139.6917", "Tokyo", "Asia/Tokyo"),
    Array("BR", "SP", "Sao Paulo", "01000-000", "-23.5475", "-46.6361", "Sao Paulo", "America/Sao_Paulo"))
  private val isps = Array("Example Telecom", "Acme Broadband", "Globex Mobile", "Initech Fiber")
  private val categories = Array("ecomm", "video", "nav", "search", "account")
  private val actions = Array("add-to-basket", "play", "click", "submit", "scroll")

  private def uuid(r: SplittableRandom): String =
    new java.util.UUID(r.nextLong(), r.nextLong()).toString

  private def ts(base: Long, offsetMs: Long): String = {
    val t = java.time.Instant.ofEpochMilli(base + offsetMs)
    TsFormat.format(t)
  }
  private val TsFormat = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd HH:mm:ss.SSS").withZone(java.time.ZoneOffset.UTC)
  private val BaseMs = java.time.Instant.parse("2026-10-01T00:00:00Z").toEpochMilli

  /** One enriched event line. */
  def line(r: SplittableRandom, frame: Int, i: Int): String = {
    val f = new Array[String](Fields)
    java.util.Arrays.fill(f.asInstanceOf[Array[AnyRef]], "")
    val t = frame.toLong * 1000 + i * 5
    val user = r.nextInt(5000)
    val geo = geos(r.nextInt(geos.length))
    val page = r.nextInt(pages.size)
    val ev = events(r.nextInt(events.length))
    f(0) = apps(r.nextInt(apps.length)); f(1) = platforms(r.nextInt(platforms.length))
    f(2) = ts(BaseMs, t + 900); f(3) = ts(BaseMs, t); f(4) = ts(BaseMs, t - r.nextInt(3000))
    f(5) = ev; f(6) = uuid(r); f(7) = r.nextInt(1000000).toString; f(8) = "sp"
    f(9) = trackers(r.nextInt(trackers.length)); f(10) = "ssc-3.2.0-kinesis"
    f(11) = "snowplow-enrich-kinesis-4.1.0"
    f(12) = if (r.nextInt(3) == 0) s"user-$user" else ""
    f(13) = s"10.${user % 256}.${(user / 256) % 256}.${r.nextInt(256)}"
    f(14) = (user * 7919L).toString; f(15) = f"$user%08x-dom-${user % 97}%04d"
    f(16) = (1 + r.nextInt(40)).toString; f(17) = uuid(r)
    Array.copy(geo, 0, f, 18, 7)
    f(25) = isps(user % isps.length); f(26) = isps((user + 1) % isps.length)
    f(29) = pages(page) + s"?utm_source=news&utm_medium=email&ref=${r.nextInt(100)}"
    f(30) = titles(page % titles.size); f(31) = pages((page + 7) % pages.size)
    f(32) = "https"; f(33) = "shop.example.com"; f(34) = "443"
    f(35) = pages(page).stripPrefix("https://shop.example.com")
    f(36) = "utm_source=news&utm_medium=email"
    f(45) = "email"; f(46) = "news"; f(47) = "autumn-sale"
    f(52) = s"""{"schema":"iglu:com.snowplowanalytics.snowplow/contexts/jsonschema/1-0-0","data":[{"schema":"iglu:com.snowplowanalytics.snowplow/web_page/jsonschema/1-0-0","data":{"id":"${uuid(r)}"}},{"schema":"iglu:org.w3/PerformanceTiming/jsonschema/1-0-0","data":{"navigationStart":${1700000000000L + t},"fetchStart":${1700000000003L + t},"domainLookupStart":${1700000000010L + t},"connectEnd":${1700000000040L + t},"responseEnd":${1700000000180L + r.nextInt(200) + t},"domComplete":${1700000000900L + r.nextInt(900) + t},"loadEventEnd":${1700000001000L + r.nextInt(1000) + t}}},{"schema":"iglu:com.google.analytics/cookies/jsonschema/1-0-0","data":{"__utma":"${user}.${r.nextInt(1000000)}.1700000000.1700000000.1700000000.1"}}]}"""
    if (ev == "struct") {
      f(53) = categories(r.nextInt(categories.length)); f(54) = actions(r.nextInt(actions.length))
      f(55) = s"sku-${r.nextInt(10000)}"; f(56) = "quantity"; f(57) = (1 + r.nextInt(5)).toString
    }
    if (ev == "unstruct")
      f(58) = s"""{"schema":"iglu:com.snowplowanalytics.snowplow/unstruct_event/jsonschema/1-0-0","data":{"schema":"iglu:com.snowplowanalytics.snowplow/link_click/jsonschema/1-0-1","data":{"targetUrl":"${pages((page + 3) % pages.size)}","elementId":"nav-$page","elementClasses":["menu","link"]}}}"""
    if (ev == "page_ping") {
      f(74) = r.nextInt(1200).toString; f(75) = r.nextInt(1200).toString
      f(76) = r.nextInt(8000).toString; f(77) = r.nextInt(8000).toString
    }
    f(78) = agents(r.nextInt(agents.length))
    f(79) = Seq("Chrome", "Safari", "Firefox")(r.nextInt(3)); f(80) = f(79)
    f(81) = "124.0"; f(82) = "Browser"; f(83) = "WEBKIT"; f(84) = "en-GB"
    f(85) = "1"; f(86) = "0"; f(87) = "1"; f(88) = "0"; f(93) = "1"; f(94) = "24"
    f(95) = (1200 + r.nextInt(800)).toString; f(96) = (700 + r.nextInt(500)).toString
    f(97) = Seq("Windows 10", "iOS 17", "macOS", "Android 14")(r.nextInt(4)); f(98) = f(97)
    f(99) = "Microsoft Corporation"; f(100) = geo(7)
    f(101) = Seq("Computer", "Mobile", "Tablet")(r.nextInt(3)); f(102) = "0"
    f(103) = "1920"; f(104) = "1080"; f(105) = "UTF-8"
    f(106) = (1200 + r.nextInt(3000)).toString; f(107) = (2000 + r.nextInt(9000)).toString
    f(110) = geo(7); f(113) = ts(BaseMs, t + 100)
    f(122) = s"""{"schema":"iglu:com.snowplowanalytics.snowplow/contexts/jsonschema/1-0-1","data":[{"schema":"iglu:com.snowplowanalytics.snowplow/ua_parser_context/jsonschema/1-0-0","data":{"useragentFamily":"${f(79)}","useragentMajor":"124","useragentMinor":"0","osFamily":"${f(97)}","deviceFamily":"Other"}},{"schema":"iglu:nl.basjes/yauaa_context/jsonschema/1-0-4","data":{"deviceBrand":"Unknown","deviceName":"Desktop","layoutEngineClass":"Browser","agentClass":"Browser","agentName":"${f(79)}","agentVersion":"124.0","operatingSystemClass":"Desktop"}}]}"""
    f(123) = uuid(r); f(124) = ts(BaseMs, t - 50)
    f(125) = "com.snowplowanalytics.snowplow"; f(126) = ev; f(127) = "jsonschema"; f(128) = "1-0-0"
    f(129) = java.lang.Long.toHexString(r.nextLong()); f(130) = ""
    f.mkString("\t")
  }

  /** Frame body: version bytes, then length-prefixed records. */
  def frameBody(records: Seq[Array[Byte]]): Array[Byte] = {
    val out = new ByteArrayOutputStream(records.map(_.length + 4).sum + 2)
    out.write(1); out.write(1)
    records.foreach { rec => writeLen(out, rec.length); out.write(rec) }
    out.toByteArray
  }
  private def writeLen(out: ByteArrayOutputStream, n: Int): Unit = {
    out.write(n >>> 24); out.write(n >>> 16); out.write(n >>> 8); out.write(n)
  }

  def gzip(bytes: Array[Byte]): Array[Byte] = {
    val buf = new ByteArrayOutputStream(bytes.length / 4)
    val gz = new GZIPOutputStream(buf)
    gz.write(bytes); gz.close()
    buf.toByteArray
  }
  def zstd(bytes: Array[Byte]): Array[Byte] = Zstd.compress(bytes, 3)

  /** How a frame reaches the loader. Corrupt frames carry no good record:
    * a truncated gzip stream fails as a whole, and a zstd frame whose first
    * length prefix overstates its record fails before any record is read.
    */
  sealed trait Kind
  case object Intact extends Kind
  case object TruncatedGzip extends Kind
  case object BadLengthZstd extends Kind

  final case class Frame(bytes: Array[Byte], kind: Kind, goodLines: Seq[Array[Byte]])

  def frame(seed: Long, index: Int, kind: Kind): Frame = {
    val r = new SplittableRandom(seed * 1000003L + index)
    val lines = (0 until EventsPerFrame).map(i => line(r, index, i).getBytes(UTF_8))
    kind match {
      case Intact =>
        val body = frameBody(lines)
        Frame(if (index % 2 == 0) gzip(body) else zstd(body), Intact, lines)
      case TruncatedGzip =>
        val whole = gzip(frameBody(lines))
        Frame(java.util.Arrays.copyOf(whole, whole.length / 2), kind, Nil)
      case BadLengthZstd =>
        val out = new ByteArrayOutputStream()
        out.write(1); out.write(1)
        writeLen(out, lines.head.length + 1000)
        out.write(lines.head)
        Frame(zstd(out.toByteArray), kind, Nil)
    }
  }

  /** Which frames are corrupt: about 0.5%, at least one of each kind. */
  def kinds(seed: Long, frames: Int): Array[Kind] = {
    val k = Array.fill[Kind](frames)(Intact)
    val n = math.max(2, math.round(frames * 0.005).toInt)
    val r = new SplittableRandom(seed ^ 0x51c0ffeeL)
    val picks = scala.collection.mutable.LinkedHashSet.empty[Int]
    while (picks.size < n) picks += r.nextInt(frames)
    picks.toSeq.zipWithIndex.foreach { case (f, j) =>
      k(f) = if (j % 2 == 0) TruncatedGzip else BadLengthZstd
    }
    k
  }

  final case class Backlog(dir: Path, frames: Int, corrupt: Int, goodRecords: Long,
      goodBytes: Long, compressedBytes: Long, expected: LineHash.Multiset)

  /** Write `frames` frame files into `dir` (one file per Kinesis record)
    * using `threads` workers.
    */
  def writeBacklog(seed: Long, frames: Int, dir: Path, threads: Int): Backlog = {
    Files.createDirectories(dir)
    val ks = kinds(seed, frames)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      val futures = (0 until frames).map { i =>
        pool.submit(new java.util.concurrent.Callable[(Long, Long, Long, Array[Long])] {
          def call() = {
            val fr = frame(seed, i, ks(i))
            Files.write(dir.resolve(f"frame-$i%05d.bin"), fr.bytes)
            (fr.goodLines.size.toLong, fr.goodLines.map(_.length.toLong).sum,
              fr.bytes.length.toLong, fr.goodLines.map(b => LineHash.of(b)).toArray)
          }
        })
      }
      val expected = new LineHash.Multiset
      var recs = 0L; var bytes = 0L; var comp = 0L
      futures.foreach { f =>
        val (n, b, c, hs) = f.get()
        recs += n; bytes += b; comp += c
        hs.foreach(expected.add)
      }
      Backlog(dir, frames, ks.count(_ != Intact), recs, bytes, comp, expected)
    } finally pool.shutdown()
  }
}
