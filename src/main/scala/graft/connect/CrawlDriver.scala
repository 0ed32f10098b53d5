package graft.connect

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Batch-ingestion crawl drivers (SURVEY S12/S13/S14) — the reference's
  * Dagster dynamic-partition crawls re-expressed as Spark jobs.
  *
  * Reference shape (assets/gov_uk/assets.py:33-142): a count query computes
  * ⌈total/100⌉ batches; a sensor fires one run per batch; each batch fetches
  * a search page + per-result content, skipping documents that already
  * exist. Spark mapping:
  *
  *  - batches: `spark.range(nBatches)` → `flatMap(fetchBatch)` — one task
  *    per batch, executor-local rate limiting (each executor instantiates
  *    its own [[RateLimitedClient]], splitting the budget the same way the
  *    reference's per-process clients do);
  *  - skip-if-exists (SURVEY A8): a LEFT ANTI join of fetched keys against
  *    the sink's key listing — set semantics instead of per-file
  *    `Path.exists` probes, the only shape that works at 100 TB;
  *  - the fetcher is injected so tests run without network.
  */
object CrawlDriver {

  /** One fetched document: stable key + payload. */
  final case class Fetched(key: String, payload: String)

  /** Fan a batch range out over executors. `fetchBatch` runs inside the
    * tasks; give it a serializable closure that builds its transport
    * lazily per executor. */
  def fetchBatches(spark: SparkSession, nBatches: Long,
      fetchBatch: Long => Seq[Fetched]): DataFrame = {
    import spark.implicits._
    spark.range(nBatches)
      .flatMap(b => fetchBatch(b))
      .toDF()
  }

  /** Skip-if-exists: keep only fetched rows whose key is absent from the
    * sink listing (SURVEY A8 idempotent-skip as an anti-join). */
  def skipExisting(fetched: DataFrame, existingKeys: DataFrame): DataFrame =
    fetched.join(existingKeys.select(col("key")), Seq("key"), "left_anti")

  /** Batch count from a total (the reference's ⌈total/pageSize⌉,
    * assets/gov_uk/assets.py:48). */
  def batchCount(total: Long, pageSize: Int): Long =
    (total + pageSize - 1) / pageSize
}

/** Atom/XML feed crawl with `rel="next"` pagination (SURVEY S10;
  * assets/legislation_gov_uk/assets.py:46-213).
  *
  * The pagination chain is inherently serial (each page names the next), so
  * it runs on the driver — entries then fan out to executors for content
  * fetch. Feed parsing uses the JDK DOM (recover-friendly: unparseable pages
  * end the chain instead of failing the job).
  */
object FeedCrawler {

  final case class Entry(id: String, title: String, updated: String,
      published: String, summary: String, isbn: String, year: String,
      number: String, contentLink: String)

  /** Parse one Atom page: entries + the rel="next" href. */
  def parsePage(xml: String): (Seq[Entry], Option[String]) = {
    val docOpt = graft.extract.ConversationParser.parseXml(xml)
    if (docOpt.isEmpty) return (Seq.empty, None)
    val doc = docOpt.get

    def local(n: org.w3c.dom.Node) = {
      val raw = Option(n.getLocalName).getOrElse(n.getNodeName)
      raw.substring(raw.indexOf(':') + 1).toLowerCase
    }
    def children(e: org.w3c.dom.Node): Seq[org.w3c.dom.Element] = {
      val k = e.getChildNodes
      (0 until k.getLength).map(k.item).collect { case el: org.w3c.dom.Element => el }
    }
    def text(e: org.w3c.dom.Element): String = graft.core.Dom.textOf(e).trim

    val root = doc.getDocumentElement
    val next = children(root).filter(local(_) == "link")
      .find(l => l.getAttribute("rel") == "next")
      .map(_.getAttribute("href")).filter(_.nonEmpty)

    val entries = children(root).filter(local(_) == "entry").map { e =>
      val kids = children(e)
      def one(name: String): String =
        kids.find(local(_) == name).map(text).getOrElse("")
      // ukm:* carry their value in a `Value` attribute (legislation.gov.uk)
      def ukm(name: String): String =
        kids.find(local(_) == name)
          .map(el => Option(el.getAttribute("Value")).filter(_.nonEmpty)
            .getOrElse(text(el))).getOrElse("")
      val contentLink = kids.filter(local(_) == "link")
        .find(_.getAttribute("type") == "application/xhtml+xml")
        .map(_.getAttribute("href")).getOrElse("")
      Entry(one("id"), one("title"), one("updated"), one("published"),
        one("summary"), ukm("isbn"), ukm("year"), ukm("number"), contentLink)
    }
    (entries, next)
  }

  /** Follow the rel="next" chain from `startUrl`, collecting all entries.
    * `maxPages` bounds runaway feeds. */
  def crawl(client: RateLimitedClient, startUrl: String,
      maxPages: Int = 1000): Seq[Entry] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Entry]
    var url: Option[String] = Some(startUrl)
    var pages = 0
    val seen = scala.collection.mutable.Set.empty[String]
    while (url.isDefined && pages < maxPages && seen.add(url.get)) {
      val body = new String(client.get(url.get).body, "UTF-8")
      val (entries, next) = parsePage(body)
      out ++= entries
      url = next
      pages += 1
    }
    out.toSeq
  }
}
