package graft

import graft.connect.{CkanCrawler, CrawlDriver, FeedCrawler, OnsCrawler, RateLimitedClient}
import graft.connect.RateLimitedClient.{Config, Response, Transport}

class CrawlSpec extends SparkSpec {

  test("batchCount ceil-divides like the reference") {
    assert(CrawlDriver.batchCount(0, 100) == 0)
    assert(CrawlDriver.batchCount(100, 100) == 1)
    assert(CrawlDriver.batchCount(101, 100) == 2)
    assert(CrawlDriver.batchCount(250, 100) == 3)
  }

  test("fetchBatches fans out over the range; skipExisting anti-joins the sink") {
    import spark.implicits._
    val fetched = CrawlDriver.fetchBatches(spark, 3, b =>
      Seq(CrawlDriver.Fetched(s"doc_${b}_0", s"payload $b 0"),
        CrawlDriver.Fetched(s"doc_${b}_1", s"payload $b 1")))
    assert(fetched.count() == 6)
    val existing = Seq("doc_0_0", "doc_2_1").toDF("key")
    val fresh = CrawlDriver.skipExisting(fetched, existing)
    assert(fresh.count() == 4)
    val keys = fresh.select("key").collect().map(_.getString(0)).toSet
    assert(!keys.contains("doc_0_0") && !keys.contains("doc_2_1"))
  }

  private def page(n: Int, withNext: Boolean) = {
    val next = if (withNext)
      s"""<link rel="next" href="https://feed.test/page${n + 1}"/>""" else ""
    s"""<feed xmlns="http://www.w3.org/2005/Atom" xmlns:ukm="http://x/ukm">
       |  $next
       |  <entry>
       |    <id>urn:item$n</id>
       |    <title>Item $n</title>
       |    <updated>2025-0$n-01T00:00:00Z</updated>
       |    <published>2025-0$n-01T00:00:00Z</published>
       |    <summary>Summary $n</summary>
       |    <ukm:ISBN Value="isbn-$n"/>
       |    <ukm:Year Value="202$n"/>
       |    <ukm:Number Value="$n"/>
       |    <link type="application/xhtml+xml" href="https://feed.test/content$n"/>
       |  </entry>
       |</feed>""".stripMargin
  }

  test("feed crawl follows rel=next chain, extracts ukm attrs and content link") {
    val calls = scala.collection.mutable.ArrayBuffer.empty[String]
    val t = new Transport {
      def get(url: String): Response = {
        calls += url
        val n = url.last.asDigit
        Response(200, Map.empty, page(n, withNext = n < 3).getBytes("UTF-8"), url)
      }
    }
    val client = new RateLimitedClient(t, Config(requestsPerSecond = 1e6), _ => ())
    val entries = FeedCrawler.crawl(client, "https://feed.test/page1")
    assert(calls.toSeq == Seq("https://feed.test/page1", "https://feed.test/page2",
      "https://feed.test/page3"))
    assert(entries.map(_.title) == Seq("Item 1", "Item 2", "Item 3"))
    assert(entries.head.isbn == "isbn-1")
    assert(entries.head.contentLink == "https://feed.test/content1")
  }

  test("feed page: an entry <title> nesting 100,000 elements parses on a default-stack thread") {
    val xml = s"""<feed xmlns="http://www.w3.org/2005/Atom">
                 |<entry><id>e1</id><title>${nested("b", "Deep")}</title></entry>
                 |</feed>""".stripMargin
    val out = onDefaultStack(FeedCrawler.parsePage(xml)._1.map(_.title))
    assert(out == Right(Seq("Deep")), out.left.map(_.getClass.getName))
  }

  test("unparseable feed page ends the chain instead of failing") {
    val t = new Transport {
      def get(url: String): Response = Response(200, Map.empty, "garbage<".getBytes, url)
    }
    val client = new RateLimitedClient(t, Config(requestsPerSecond = 1e6), _ => ())
    assert(FeedCrawler.crawl(client, "https://feed.test/x").isEmpty)
  }

  // ------------------------------------------------------------ CKAN (S13)

  test("ckan: facet discovery parses theme-primary category keys") {
    val json = """{"result": {"facets": {"theme-primary":
      {"government": 120, "environment": 34, "health": 9}}}}"""
    assert(CkanCrawler.parseCategories(json).toSet
      == Set("government", "environment", "health"))
    assert(CkanCrawler.parseCategories("not json").isEmpty)
  }

  test("ckan: package_search grammar — public-licence fq, sort, paging") {
    val p = CkanCrawler.searchParams("government")
    assert(p("fq") == "theme-primary:government AND license_id:(ogl OR uk-ogl OR " +
      "OGL-UK-3.0 OR cc-by OR other-pd OR other-open OR odc-pddl OR odc-odbl OR " +
      "odc-by OR cc-nc OR other-nc OR cc-zero)")
    assert(p("sort") == "metadata_created desc")
    assert(p("rows") == "100" && p("start") == "0")
    assert(CkanCrawler.sourceFor("environment") == "environment.data.gov.uk")
    assert(CkanCrawler.sourceFor("government") == "data.gov.uk")
  }

  test("ckan: package -> per-resource records with overrides and size cap") {
    val json =
      """{"result": {"results": [{
        "id": "pkg-1", "title": "Road Stats", "notes": "All the roads.",
        "license_id": "uk-ogl", "metadata_modified": "2024-02-01T10:00:00",
        "created": "2020-01-05T09:30:00",
        "organization": {"title": "DfT", "name": "dft"},
        "tags": [{"name": "roads"}, {"name": "transport"}],
        "resources": [
          {"id": "r1", "url": "https://x/road.csv", "format": "CSV", "size": "1024"},
          {"id": "r2", "url": "https://x/big.zip", "size": "99999999999"},
          {"id": "r3", "format": "CSV"},
          {"id": "r4", "url": "https://x/extra.csv", "name": "Extra counts"}
        ]}]}}"""
    val recs = CkanCrawler.resourceRecords(json, "government")
    assert(recs.map(_.resourceId) == Seq("r1", "r4")) // size-capped + no-url dropped
    val r1 = recs.head
    assert(r1.title == "Road Stats" && r1.creator == "DfT" && r1.license == "uk-ogl")
    assert(r1.tags == Seq("roads", "transport", "government"))
    assert(r1.datasetUrl == "https://data.gov.uk/dataset/pkg-1")
    assert(r1.publicTime == "2024-02-01T10:00:00+00:00")
    assert(r1.firstPublishTime == "2020-01-05T09:30:00+00:00")
    val r4 = recs(1) // named resource takes the title slot
    assert(r4.title == "Extra counts" && r4.collectionTitle == "Road Stats")
    assert(r4.description == "Road Stats. All the roads.")
  }

  // ------------------------------------------------------------- ONS (S14)

  test("ons: safe name — decode, slashify, collapse, strip, cap") {
    assert(OnsCrawler.safeName("/economy/gdp/timeseries/abmi/pn2")
      == "economy_gdp_timeseries_abmi_pn2")
    assert(OnsCrawler.safeName("/a%20b//c!") == "a_b_c")
    assert(OnsCrawler.safeName("/x/" + "y" * 300).length == 200)
  }

  test("ons: csv generator url percent-encodes the uri completely") {
    assert(OnsCrawler.csvGeneratorUrl("/economy/gdp")
      == "https://www.ons.gov.uk/generator?format=csv&uri=%2Feconomy%2Fgdp")
    val p = OnsCrawler.searchParams("t1")
    assert(p("content_type") == "timeseries" && p("sort") == "release_date")
    assert(p("limit") == "1000" && p("offset") == "3000")
  }

  test("ons: skip rule needs BOTH sidecar json and csv") {
    val safe = "economy_gdp"
    assert(OnsCrawler.needsDownload(Seq("economy_gdp.csv"), safe))
    assert(OnsCrawler.needsDownload(Seq("economy_gdp.json"), safe))
    assert(!OnsCrawler.needsDownload(Seq("economy_gdp.csv", "economy_gdp.JSON"), safe))
    assert(OnsCrawler.needsDownload(Seq("other.csv", "other.json"), safe))
  }

  test("ons: timeseries search items map to sidecar metadata records") {
    val json =
      """{"items": [
        {"uri": "/economy/gdp/timeseries/abmi", "title": "GDP",
         "summary": "Quarterly GDP.", "release_date": "2024-03-28T07:00:00",
         "keywords": ["gdp", "economy"]},
        {"title": "no uri, dropped"}]}"""
    val recs = OnsCrawler.timeseriesRecords(json)
    assert(recs.size == 1)
    val r = recs.head
    assert(r.link == "https://www.ons.gov.uk/economy/gdp/timeseries/abmi")
    assert(r.publicTime == "2024-03-28T07:00:00+00:00")
    assert(r.topics == Seq("gdp", "economy"))
    assert(r.license == "Open Government Licence v3.0")
    assert(r.fileName == "economy_gdp_timeseries_abmi.csv")
  }
}
