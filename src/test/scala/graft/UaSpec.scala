package graft

import graft.functions.Ua

/** Real-world user-agent strings → expected families, pinning the rule
  * table's ordering (Edge/Opera contain "Chrome"; Android contains
  * "Linux"; iOS Chrome is not desktop Chrome).
  */
class UaSpec extends SparkSpec {
  import spark.implicits._

  val cases: Seq[(String, String, String, Boolean)] = Seq(
    ("Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/120.0.0.0 Safari/537.36",
      "Chrome", "Windows", false),
    ("Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/120.0.0.0 Safari/537.36 Edg/120.0.2210.91",
      "Edge", "Windows", false),
    ("Mozilla/5.0 (X11; Linux x86_64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/119.0.0.0 Safari/537.36 OPR/105.0.0.0",
      "Opera", "Linux", false),
    ("Mozilla/5.0 (iPhone; CPU iPhone OS 17_1 like Mac OS X) AppleWebKit/605.1.15 (KHTML, like Gecko) CriOS/120.0.6099.119 Mobile/15E148 Safari/604.1",
      "Chrome Mobile iOS", "iOS", false),
    ("Mozilla/5.0 (Macintosh; Intel Mac OS X 10_15_7) AppleWebKit/605.1.15 (KHTML, like Gecko) Version/17.1 Safari/605.1.15",
      "Safari", "Mac OS X", false),
    ("Mozilla/5.0 (X11; Ubuntu; Linux x86_64; rv:109.0) Gecko/20100101 Firefox/119.0",
      "Firefox", "Ubuntu", false),
    ("Mozilla/5.0 (X11; Linux x86_64; rv:109.0) Gecko/20100101 Firefox/115.0",
      "Firefox", "Linux", false),
    ("Mozilla/5.0 (Linux; Android 14; Pixel 8) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/120.0.6099.43 Mobile Safari/537.36",
      "Chrome Mobile", "Android", false),
    // second-tier families user_agents names (ua-parser uap-core rules):
    ("Mozilla/5.0 (Linux; Android 13; SM-S911B) AppleWebKit/537.36 (KHTML, like Gecko) SamsungBrowser/21.0 Chrome/110.0.5481.154 Mobile Safari/537.36",
      "Samsung Internet", "Android", false),
    ("Mozilla/5.0 (iPhone; CPU iPhone OS 16_6 like Mac OS X) AppleWebKit/605.1.15 (KHTML, like Gecko) EdgiOS/115.0.1901.208 Version/16.0 Mobile/15E148 Safari/604.1",
      "Edge Mobile", "iOS", false),
    ("Mozilla/5.0 (Linux; Android 10; HD1913) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/124.0.0.0 Mobile Safari/537.36 EdgA/124.0.2478.50",
      "Edge Mobile", "Android", false),
    ("Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/124.0.0.0 YaBrowser/24.6.0.0 Safari/537.36",
      "Yandex Browser", "Windows", false),
    ("Opera/9.80 (Android; Opera Mini/7.5.54678/28.2555; U; ru) Presto/2.10.289 Version/12.02",
      "Opera Mini", "Android", false),
    ("Mozilla/5.0 (Linux; U; Android 12; en-US; RMX3511 Build/SP1A.210812.016) AppleWebKit/537.36 (KHTML, like Gecko) Version/4.0 Chrome/100.0.4896.58 UCBrowser/13.6.5.1317 Mobile Safari/537.36",
      "UC Browser", "Android", false),
    ("Mozilla/5.0 (Linux; Android 10; SM-A205U wv) AppleWebKit/537.36 (KHTML, like Gecko) Version/4.0 Chrome/110.0.5481.153 Mobile Safari/537.36",
      "Chrome Mobile WebView", "Android", false),
    ("Mozilla/5.0 (iPhone; CPU iPhone OS 17_5 like Mac OS X) AppleWebKit/605.1.15 (KHTML, like Gecko) Version/17.5 Mobile/15E148 Safari/604.1",
      "Mobile Safari", "iOS", false),
    ("Mozilla/5.0 (Android 14; Mobile; rv:126.0) Gecko/126.0 Firefox/126.0",
      "Firefox Mobile", "Android", false),
    ("Mozilla/5.0 (Windows NT 6.1; Trident/7.0; rv:11.0) like Gecko",
      "IE", "Windows", false),
    ("Mozilla/5.0 (X11; CrOS x86_64 14541.0.0) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/120.0.0.0 Safari/537.36",
      "Chrome", "Chrome OS", false),
    ("curl/8.4.0", "curl", "Other", false),
    ("Wget/1.21.4", "Wget", "Other", false),
    ("python-requests/2.31.0", "Python Requests", "Other", false),
    ("Python-urllib/3.11", "Python-urllib", "Other", true),  // python-urllib keyword
    ("Googlebot/2.1 (+http://www.google.com/bot.html)", "Googlebot", "Other", true),
    // Googlebot-Smartphone embeds a full Chrome Mobile UA — the named
    // crawler rule must still win (uap-core order)
    ("Mozilla/5.0 (Linux; Android 6.0.1; Nexus 5X Build/MMB29P) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/120.0.6099.43 Mobile Safari/537.36 (compatible; Googlebot/2.1; +http://www.google.com/bot.html)",
      "Googlebot", "Android", true),
    ("Mozilla/5.0 (compatible; bingbot/2.0; +http://www.bing.com/bingbot.htm)",
      "bingbot", "Other", true),
    ("Mozilla/5.0 (compatible; YandexBot/3.0; +http://yandex.com/bots)",
      "YandexBot", "Other", true),
    ("Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) HeadlessChrome/119.0.6045.105 Safari/537.36",
      "HeadlessChrome", "Windows", false),
    ("okhttp/4.12.0", "okhttp", "Other", false),
    ("Go-http-client/2.0", "Go-http-client", "Other", false),
    ("Java/17.0.9", "Java", "Other", false),
    ("Apache-HttpClient/4.5.14 (Java/11.0.21)", "Apache-HttpClient", "Other", false),
    ("Python/3.11 aiohttp/3.9.1", "Python aiohttp", "Other", false),
    ("axios/1.6.2", "axios", "Other", false),
    ("Datadog Agent/7.54.0", "Other", "Other", true),
    // monitoring agents with dedicated uap-core families (the round-11
    // ua_golden.csv fixture rows ref_diff replays)
    ("Pingdom.com_bot_version_1.4_(http://www.pingdom.com/)",
      "PingdomBot", "Other", true),
    ("UptimeRobot/2.0 (http://www.uptimerobot.com/)",
      "UptimeRobot", "Other", true),
    ("NewRelicPinger/1.0", "NewRelicPinger", "Other", true),
    // lowercase python-urllib misses uap-core's case-sensitive
    // Python-urllib rule (but still trips the bot KEYWORD filter)
    ("python-urllib/3.11", "Other", "Other", true),
    // iOS WebView: AppleWebKit without a Safari/ token
    ("Mozilla/5.0 (iPhone; CPU iPhone OS 17_0 like Mac OS X) AppleWebKit/605.1.15 (KHTML, like Gecko) Mobile/15E148",
      "Mobile Safari UI/WKWebView", "iOS", false),
    ("Nagios-Plugins 2.3.3", "Other", "Other", true),
    ("", "Other", "Other", false))

  test("browser/os families and bot flag over a real-UA table") {
    val df = cases.map(_._1).toDF("ua").select(
      $"ua",
      Ua.browserFamily($"ua").as("b"),
      Ua.osFamily($"ua").as("o"),
      Ua.isBot($"ua").as("bot"))
    val got = df.as[(String, String, String, Boolean)].collect().toSeq
    cases.zip(got).foreach { case ((ua, eb, eo, ebot), (_, gb, go, gbot)) =>
      assert(gb === eb, s"browser for: $ua")
      assert(go === eo, s"os for: $ua")
      assert(gbot === ebot, s"bot for: $ua")
    }
  }

  test("null UA: Other families, not bot, kept by health filter") {
    val df = Seq[Option[String]](None).toDF("ua").select(
      Ua.browserFamily($"ua").as("b"), Ua.osFamily($"ua").as("o"),
      Ua.isBot($"ua").as("bot"), Ua.keepNonHealthCheck($"ua").as("keep"))
    assert(df.as[(String, String, Boolean, Boolean)].head() === (("Other", "Other", false, true)))
  }

  /** The round-16 kernel must reproduce the regex chain bit-for-bit:
    * golden cases, the committed ua_golden.csv corpus, and adversarial
    * fuzz over rule tokens — including embedded line terminators,
    * where `.*`'s no-newline semantics routes the kernel through the
    * compiled original patterns.
    */
  test("UaClassify kernel equals the when-chain twin on golden + fuzz input") {
    val golden = scala.io.Source.fromFile("tools/ua_golden.csv").getLines()
      .drop(1).map(_.split("\t")(0)).toSeq
    val tokens = Seq("iPhone", "iPad", "Version/", "Safari/", "Safari",
      "AppleWebKit", "Chrome/", " Mobile", "Firefox/", "Tablet", "OPR/",
      "Opera", "Edg", "e/", "12.3", ".", "9", " ", "\n", "\r",
      "Python/", " aiohttp/", "bot", "Datadog", "x", "Mini/", "Mobi",
      "Trident/", "MSIE ", "X11", "iOS", "curl/", "EdgA/")
    val rnd = new scala.util.Random(163)
    val fuzz = (1 to 400).map { _ =>
      (1 to (1 + rnd.nextInt(12)))
        .map(_ => tokens(rnd.nextInt(tokens.size))).mkString
    }
    val uas = (cases.map(_._1) ++ golden ++ fuzz).distinct
    val df = uas.toDF("ua").select(
      Ua.browserFamily($"ua").as("kb"), Ua.browserFamilyTwin($"ua").as("tb"),
      Ua.osFamily($"ua").as("ko"), Ua.osFamilyTwin($"ua").as("to"),
      Ua.isBot($"ua").as("kbot"), Ua.isBotTwin($"ua").as("tbot"),
      Ua.keepNonHealthCheck($"ua").as("kk"),
      Ua.keepNonHealthCheckTwin($"ua").as("tk"), $"ua")
    df.collect().foreach { r =>
      assert(r.getString(0) === r.getString(1), s"browser for: ${r.getString(8)}")
      assert(r.getString(2) === r.getString(3), s"os for: ${r.getString(8)}")
      assert(r.getBoolean(4) === r.getBoolean(5), s"bot for: ${r.getString(8)}")
      assert(r.getBoolean(6) === r.getBoolean(7), s"keep for: ${r.getString(8)}")
    }
  }
}
