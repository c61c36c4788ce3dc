package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.util.SplittableRandom
import java.util.zip.GZIPOutputStream

/** Seeded generator of AWS ALB access-log lines, written as an ELB-style
  * prefix of gzip files. The pipeline under test only ever sees the gzip
  * files; everything it should produce from them is recorded here as
  * ground truth while the lines are written.
  *
  * Shape: `ipPopulation` distinct client IPs drawn with Zipf(`zipfS`)
  * skew, 24 h of timestamps split evenly across the files (each file is
  * time-ordered, like ELB's 5-minute objects), and a malformed share
  * split across the parser's three drop reasons. Every malformed line
  * carries exactly one defect, so the parser's per-reason drop counters
  * must equal the planted ones.
  *
  * The bot, health-check and error shares are assumptions, not measured
  * traffic: they exist so that the bots, bot-origin and error sinks are
  * not empty and `filterCategorize` has rows to remove.
  */
object ElbGen {

  final case class Spec(
      lines: Int,
      files: Int,
      ipPopulation: Int = 20000,
      zipfS: Double = 0.88,
      malformedShare: Double = 0.01,
      botShare: Double = 0.08,
      healthShare: Double = 0.02,
      errorShare: Double = 0.05,
      startEpochSec: Long = 1773100800L, // 2026-03-10T00:00:00Z
      spanSec: Long = 86400L)

  /** What a correct pipeline run over the prefix must report. */
  final case class Truth(
      lines: Long,
      dropsArity: Long,
      dropsTime: Long,
      dropsFloat: Long,
      parsedRows: Long,
      healthRows: Long,
      cleanedRows: Long,
      botRows: Long,
      errorRows: Long,
      distinctIps: Long,
      hottestIpShare: Double,
      bytes: Long) {
    def malformed: Long = dropsArity + dropsTime + dropsFloat
  }

  private val Browsers = Array(
    "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/120.0.0.0 Safari/537.36",
    "Mozilla/5.0 (Macintosh; Intel Mac OS X 10_15_7) AppleWebKit/605.1.15 (KHTML, like Gecko) Version/17.0 Safari/605.1.15",
    "Mozilla/5.0 (X11; Linux x86_64; rv:109.0) Gecko/20100101 Firefox/115.0",
    "Mozilla/5.0 (iPhone; CPU iPhone OS 17_0 like Mac OS X) AppleWebKit/605.1.15 (KHTML, like Gecko) Version/17.0 Mobile/15E148 Safari/604.1",
    "curl/8.0.1")
  private val Bots = Array(
    "Googlebot/2.1 (+http://www.google.com/bot.html)",
    "Mozilla/5.0 (compatible; bingbot/2.0; +http://www.bing.com/bingbot.htm)",
    "python-urllib/3.11")
  private val HealthUa = "ELB-HealthChecker/2.0"
  private val Paths = Array("/", "/api", "/api/v1/items", "/api/v1/items/42",
    "/assets/img/logo.png", "/search", "/login", "/cart/checkout")
  private val Hosts = Array("shop.example.com", "api.example.com", "static.example.com")
  private val Methods = Array("GET", "GET", "GET", "POST", "PUT")
  private val ErrorStatuses = Array("403", "404", "502", "503")

  /** Distinct dotted IPv4 addresses in a seed-dependent order: index 0 is
    * the hottest client under the Zipf draw.
    */
  private def ipPopulation(seed: Long, n: Int): Array[String] = {
    val rnd = new SplittableRandom(seed ^ 0x5DEECE66DL)
    val seen = new java.util.HashSet[Integer](n * 2)
    val out = new Array[String](n)
    var i = 0
    while (i < n) {
      val v = rnd.nextInt()
      val a = (v >>> 24) & 0xFF
      if (a >= 1 && a <= 223 && a != 10 && a != 127 && seen.add(v)) {
        out(i) = s"$a.${(v >>> 16) & 0xFF}.${(v >>> 8) & 0xFF}.${v & 0xFF}"
        i += 1
      }
    }
    out
  }

  private def zipfCdf(n: Int, s: Double): Array[Double] = {
    val cdf = new Array[Double](n)
    var acc = 0.0
    var k = 0
    while (k < n) { acc += 1.0 / math.pow(k + 1, s); cdf(k) = acc; k += 1 }
    k = 0
    while (k < n) { cdf(k) /= acc; k += 1 }
    cdf
  }

  private def draw(cdf: Array[Double], u: Double): Int = {
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(if (i >= 0) i else -i - 1, cdf.length - 1)
  }

  private val TimeFmt = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'").withZone(java.time.ZoneOffset.UTC)

  private def fmtTime(micros: Long): String =
    TimeFmt.format(java.time.Instant.ofEpochSecond(
      Math.floorDiv(micros, 1000000L), Math.floorMod(micros, 1000000L) * 1000L))

  /** Milliseconds as the log's `0.123` seconds field. */
  private def secs(ms: Int): String = {
    val frac = Integer.toString(1000 + ms).substring(1)
    s"0.$frac"
  }

  /** Write `spec.files` gzip files under `dir` and return the ground truth. */
  def write(dir: File, spec: Spec, seed: Long): Truth = {
    dir.mkdirs()
    val rnd = new SplittableRandom(seed)
    val ips = ipPopulation(seed, spec.ipPopulation)
    val cdf = zipfCdf(spec.ipPopulation, spec.zipfS)
    val ipHits = new Array[Int](spec.ipPopulation)
    var arity, badTime, badFloat, parsed, health, bots, errors = 0L
    val perFile = spec.lines / spec.files
    val spanMicros = spec.spanSec * 1000000L / spec.files
    val sb = new java.lang.StringBuilder(512)
    for (f <- 0 until spec.files) {
      val n = if (f == spec.files - 1) spec.lines - perFile * (spec.files - 1) else perFile
      val fileStart = spec.startEpochSec * 1000000L + f * spanMicros
      val offsets = Array.fill(n)(rnd.nextLong(spanMicros))
      java.util.Arrays.sort(offsets)
      val out = new BufferedWriter(new OutputStreamWriter(
        new GZIPOutputStream(new FileOutputStream(new File(dir, f"elb-$f%03d.log.gz")), 1 << 16),
        StandardCharsets.UTF_8), 1 << 16)
      try {
        var i = 0
        while (i < n) {
          val micros = fileStart + offsets(i)
          val ipIdx = draw(cdf, rnd.nextDouble())
          val defect =
            if (rnd.nextDouble() < spec.malformedShare) 1 + rnd.nextInt(3) else 0
          val kind = rnd.nextDouble()
          val ua =
            if (kind < spec.healthShare) HealthUa
            else if (kind < spec.healthShare + spec.botShare) Bots(rnd.nextInt(Bots.length))
            else Browsers(rnd.nextInt(Browsers.length))
          val status =
            if (rnd.nextDouble() < spec.errorShare) ErrorStatuses(rnd.nextInt(ErrorStatuses.length))
            else "200"
          val ts = fmtTime(micros)
          val created = fmtTime(micros - rnd.nextInt(2000))
          val reqProc = if (defect == 3) "0.0x1"
            else if (rnd.nextInt(50) == 0) "-" else secs(rnd.nextInt(5))
          val tgtProc = if (rnd.nextInt(50) == 0) "-" else secs(rnd.nextInt(900))
          val url = s"https://${Hosts(rnd.nextInt(Hosts.length))}:443" +
            Paths(rnd.nextInt(Paths.length)) +
            (if (rnd.nextInt(3) == 0) s"?q=${rnd.nextInt(1000)}" else "")
          sb.setLength(0)
          sb.append("https ").append(if (defect == 2) ts.replace('T', '_') else ts)
            .append(" app/shop-alb/50dc6c495c0c9188 ")
            .append(ips(ipIdx)).append(':').append(1024 + rnd.nextInt(60000))
            .append(" 10.0.").append(rnd.nextInt(4)).append('.').append(rnd.nextInt(250)).append(":80 ")
            .append(reqProc).append(' ').append(tgtProc).append(" 0.000 ")
            .append(status).append(' ').append(status).append(' ')
            .append(rnd.nextInt(2000)).append(' ').append(rnd.nextInt(200000))
            .append(" \"").append(Methods(rnd.nextInt(Methods.length))).append(' ')
            .append(url).append(" HTTP/1.1\" \"").append(ua).append('"')
            .append(" ECDHE-RSA-AES128-GCM-SHA256 TLSv1.2")
            .append(" arn:aws:elasticloadbalancing:us-east-1:123456789012:targetgroup/shop/73e2d6bc24d8a067")
            .append(" \"Root=1-").append(java.lang.Long.toHexString(micros)).append('-')
            .append(Integer.toHexString(rnd.nextInt())).append('"')
            .append(" \"shop.example.com\"")
            .append(" \"arn:aws:acm:us-east-1:123456789012:certificate/12345678\"")
            .append(" 0 ").append(created)
            .append(" \"forward\"")
            .append(" \"-\" \"-\" \"10.0.0.1:80\" \"").append(status).append('"')
          if (defect != 1) sb.append(" \"-\" \"-\"")
          out.write(sb.toString)
          out.write('\n')
          defect match {
            case 1 => arity += 1
            case 2 => badTime += 1
            case 3 => badFloat += 1
            case _ =>
              parsed += 1
              ipHits(ipIdx) += 1
              if (ua eq HealthUa) health += 1
              else {
                if (Bots.contains(ua)) bots += 1
                if (status.charAt(0) == '4' || status.charAt(0) == '5') errors += 1
              }
          }
          i += 1
        }
      } finally out.close()
    }
    val bytes = dir.listFiles().filter(_.getName.endsWith(".gz")).map(_.length).sum
    Truth(
      lines = spec.lines, dropsArity = arity, dropsTime = badTime, dropsFloat = badFloat,
      parsedRows = parsed, healthRows = health, cleanedRows = parsed - health,
      botRows = bots, errorRows = errors,
      distinctIps = ipHits.count(_ > 0),
      hottestIpShare = ipHits.max.toDouble / math.max(parsed, 1L),
      bytes = bytes)
  }
}
