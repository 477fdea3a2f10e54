package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.security.MessageDigest
import java.time.LocalDateTime
import java.time.format.DateTimeFormatter
import java.util.{Locale, SplittableRandom}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Seeded input generators. Each writes plain files in a fixed order
  * from a `SplittableRandom(seed)`, so one seed gives byte-identical
  * inputs ([[Gen.fingerprint]] hashes them), and returns the planted
  * truth the output checks compare against. The engine sees only the
  * files. */
object Gen {

  /** SHA-256 over every file under `dir`: relative path, then bytes. */
  def fingerprint(dir: Path): String = {
    val md = MessageDigest.getInstance("SHA-256")
    val files = Files.walk(dir).iterator().asScala.filter(Files.isRegularFile(_))
      .toSeq.sortBy(p => dir.relativize(p).toString)
    files.foreach { p =>
      md.update(dir.relativize(p).toString.getBytes(UTF_8))
      md.update(Files.readAllBytes(p))
    }
    md.digest().map("%02x".format(_)).mkString
  }

  /** Deletes `dir` and everything under it. */
  def delete(dir: Path): Unit =
    Files.walk(dir).iterator().asScala.toSeq.reverse.foreach(Files.delete)

  /** Total bytes of the regular files under `dir`. */
  def bytes(dir: Path): Long =
    Files.walk(dir).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum

  private[perfbench] def words(r: SplittableRandom, vocab: IndexedSeq[String], n: Int): String =
    Iterator.fill(n)(vocab(r.nextInt(vocab.size))).mkString(" ")

  private[perfbench] def token(r: SplittableRandom, len: Int): String =
    new String(Array.fill(len)(('a' + r.nextInt(26)).toChar))
}

// ---------------------------------------------------------------- etl

/** One delivery: the raw files dropped into the stream's input
  * directory before one `EtlStream.run` call, and what it must do. */
final case class Delivery(
    files: Seq[Path],
    ads: Int,                         // raw ad lines, duplicates included
    landed: Map[String, String],      // uniq_id -> scrape_date of the copy that must land
    quarantined: Set[String],         // uniq_ids that must go to quarantine
    rescraped: Set[String])           // uniq_ids re-scraped after they landed earlier

final case class EtlInputs(dimPath: Path, deliveries: Vector[Delivery], warmup: Delivery) {
  def sizes: Map[String, Any] = Map(
    "deliveries" -> deliveries.size,
    "files_per_delivery" -> deliveries.head.files.size,
    "ads_per_delivery" -> deliveries.head.ads,
    "landed_per_delivery_mean" -> deliveries.map(_.landed.size).sum.toDouble / deliveries.size,
    "quarantined_total" -> deliveries.map(_.quarantined.size).sum,
    "rescraped_total" -> deliveries.map(_.rescraped.size).sum)
}

/** Raw scraped ads as JSONL envelopes (`scrape_date, code, url, read,
  * uniq_id`), with pages of a few KB to tens of KB and planted shares
  * of in-file duplicates, unknown site ids, unparseable post dates and
  * re-scrapes of ads that landed in an earlier delivery. */
object EtlGen {
  val States: IndexedSeq[String] = IndexedSeq("Alabama", "Alaska", "Arizona", "Arkansas",
    "California", "Colorado", "Connecticut", "Delaware", "Florida", "Georgia", "Idaho",
    "Illinois", "Indiana", "Iowa", "Kansas", "Kentucky", "Maine", "Nevada")
  private val Categories = IndexedSeq("WomenSeekMen", "MenSeekWomen", "Services", "Jobs",
    "Housing", "ForSale", "Autos", "Pets")
  private val Filler = IndexedSeq("call", "now", "today", "best", "deal", "downtown",
    "clean", "safe", "new", "in", "town", "available", "weekend", "special", "rates",
    "friendly", "discreet", "upscale", "visiting", "only", "serious", "inquiries",
    "please", "no", "text", "messages", "open", "late", "east", "west", "side", "hotel")
  private val Digits = IndexedSeq("zero", "one", "two", "three", "four", "five", "six",
    "seven", "eight", "nine")
  private val HtmlDate = DateTimeFormatter.ofPattern("EEEE, MMMM d, yyyy h:mm a", Locale.US)
  private val Stamp = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss", Locale.US)

  final case class Params(deliveries: Int, filesPerDelivery: Int, adsPerFile: Int,
                          dupShare: Double, unknownSiteShare: Double,
                          badDateShare: Double, rescrapeShare: Double,
                          minPageBytes: Int, maxPageBytes: Int)

  private final case class Ad(adId: Long, site: String, category: String,
                              posted: LocalDateTime, scraped: LocalDateTime,
                              badDate: Boolean) {
    def uniqId: String =
      (if (badDate) "" else posted.format(Stamp)) + s"-$adId-$site-$category"
    def scrapeDate: String = scraped.format(Stamp)
  }

  def generate(dir: Path, seed: Long, p: Params): EtlInputs = {
    val r = new SplittableRandom(seed)
    Files.createDirectories(dir)
    val sites = (0 until 60).map(i => s"city${Gen.token(r, 5)}$i")
    // round-robin states: every seed touches the same number of
    // warehouse partitions, so batch cost does not hinge on the draw
    val siteState = sites.zipWithIndex.map { case (s, i) => s -> States(i % States.size) }.toMap
    val dimPath = dir.resolve("site_dim.csv")
    Files.write(dimPath, ("Backpage ID,City,State,Region,Division,URL" +: sites.map { s =>
      s"$s,${s.capitalize},${siteState(s)},Region${s.length % 4},Division${s.length % 9}," +
        s"http://$s.backpage.com/"
    }).asJava, UTF_8)

    var nextAdId = 10000000L
    val base = LocalDateTime.of(2017, 1, 1, 0, 0)
    def freshAd(site: String, badDate: Boolean): Ad = {
      nextAdId += 1
      val posted = base.plusMinutes(r.nextInt(180 * 24 * 60).toLong)
      Ad(nextAdId, site, Categories(r.nextInt(Categories.size)), posted,
        posted.plusMinutes(60L + r.nextInt(3 * 24 * 60)), badDate)
    }
    val landedSoFar = mutable.ArrayBuffer[Ad]()

    def delivery(name: String, allowRescrape: Boolean, nFiles: Int, adsPerFile: Int): Delivery = {
      val ddir = dir.resolve(name)
      Files.createDirectories(ddir)
      val landed = mutable.LinkedHashMap[String, String]()
      val quarantined = mutable.LinkedHashSet[String]()
      val rescraped = mutable.LinkedHashSet[String]()
      var ads = 0
      val files = (0 until nFiles).map { f =>
        val lines = mutable.ArrayBuffer[String]()
        val fresh = mutable.ArrayBuffer[Ad]()
        while (lines.size < adsPerFile) {
          val u = r.nextDouble()
          val t1 = p.unknownSiteShare; val t2 = t1 + p.badDateShare
          val t3 = t2 + p.rescrapeShare; val t4 = t3 + p.dupShare
          val kind = if (u < t1) 0 else if (u < t2) 1 else if (u < t3) 2 else if (u < t4) 3 else 4
          kind match {
            case 0 =>
              val ad = freshAd(s"nowhere${Gen.token(r, 4)}", badDate = false)
              quarantined += ad.uniqId; lines += line(r, ad, p)
            case 1 =>
              val ad = freshAd(sites(r.nextInt(sites.size)), badDate = true)
              quarantined += ad.uniqId; lines += line(r, ad, p)
            case 2 if allowRescrape && landedSoFar.nonEmpty =>
              val orig = landedSoFar(r.nextInt(landedSoFar.size))
              val again = orig.copy(scraped = orig.scraped.plusDays(1L + r.nextInt(20)))
              rescraped += orig.uniqId; lines += line(r, again, p)
            case 3 if fresh.nonEmpty =>
              // the same ad scraped twice into one file: one copy lands
              lines += line(r, fresh(r.nextInt(fresh.size)), p)
            case _ =>
              val ad = freshAd(sites(r.nextInt(sites.size)), badDate = false)
              fresh += ad; landed(ad.uniqId) = ad.scrapeDate; lines += line(r, ad, p)
          }
        }
        landedSoFar ++= fresh
        ads += lines.size
        val path = ddir.resolve(f"part-$f%02d.jsonl")
        Files.write(path, lines.asJava, UTF_8)
        path
      }
      Delivery(files, ads, landed.toMap, quarantined.toSet, rescraped.toSet)
    }

    val warmup = delivery("warmup", allowRescrape = false, 3, p.adsPerFile)
    landedSoFar.clear()
    val deliveries = (0 until p.deliveries).map(i =>
      delivery(f"d$i%03d", i > 0, p.filesPerDelivery, p.adsPerFile)).toVector
    EtlInputs(dimPath, deliveries, warmup)
  }

  /** One JSONL envelope; the page is padded with filler paragraphs to a
    * log-uniformly drawn size in [minPageBytes, maxPageBytes]. */
  private def line(r: SplittableRandom, ad: Ad, p: Params): String = {
    val url = s"http://${ad.site}.backpage.com/${ad.category}/${Gen.token(r, 6)}-deal/${ad.adId}"
    val postedText = if (ad.badDate) "someday soon" else ad.posted.format(HtmlDate)
    val phone = if (r.nextBoolean()) s"Call ${5550000000L + r.nextInt(9999999)} now!"
                else "call " + Iterator.fill(10)(Digits(r.nextInt(10))).mkString(" ") + " today"
    val others = (0 until 1 + r.nextInt(4)).map { _ =>
      s"""<div class="cat"><a href="http://${ad.site}.backpage.com/${ad.category}/x/${10000000 + r.nextInt(9000000)}">other</a></div>"""
    }.mkString
    val head = new StringBuilder()
    head.append("<html><body><div id=\"postingTitle\">")
      .append(Gen.words(r, Filler, 3 + r.nextInt(5))).append(" Report Ad</div>")
      .append("<div class=\"adInfo\"> Posted: ").append(postedText).append(" </div>")
      .append("<p class=\"metaInfoDisplay\">Poster's age: ").append(18 + r.nextInt(40)).append("</p>")
      .append("<div class=\"postingBody\">").append(Gen.words(r, Filler, 20 + r.nextInt(40)))
      .append(' ').append(phone).append("</div>")
      .append("<div>Location: ").append(Gen.words(r, Filler, 2)).append("</div>")
      .append("<div id=\"OtherAdsByThisUser\">").append(others).append("</div>")
    val target = math.exp(math.log(p.minPageBytes.toDouble) +
      r.nextDouble() * (math.log(p.maxPageBytes.toDouble) - math.log(p.minPageBytes.toDouble))).toInt
    while (head.length < target)
      head.append("<p class=\"filler\">").append(Gen.words(r, Filler, 40)).append("</p>")
    head.append("</body></html>")
    "{\"scrape_date\": " + Json.render(ad.scrapeDate) + ", \"code\": 200, \"url\": " +
      Json.render(url) + ", \"read\": " + Json.render(head.toString) +
      ", \"uniq_id\": " + Json.render(ad.uniqId) + "}"
  }
}

// -------------------------------------------------------------- graph

final case class GraphInputs(nodesPath: Path, edgesPath: Path, nodes: Array[Long],
                             edges: Array[(Long, Long)], component: Map[Long, Long]) {
  def sizes: Map[String, Any] = Map("nodes" -> nodes.length, "edges" -> edges.length,
    "components" -> component.values.toSet.size)
}

/** A directed graph of planted weakly-connected components: each is a
  * random recursive tree (edges in random directions, so it is
  * connected) plus random extra edges inside it; no edge crosses
  * components, so the components are known exactly. Node ids are a
  * random permutation, so a component's minimum id is not positional.
  * No self-loops, no duplicate edges. */
object GraphGen {
  final case class Params(nodes: Int, avgOutDegree: Double, components: Int, isolated: Int)

  def generate(dir: Path, seed: Long, p: Params): GraphInputs = {
    val r = new SplittableRandom(seed)
    Files.createDirectories(dir)
    val ids = (0 until p.nodes).map(_.toLong).toArray
    for (i <- ids.length - 1 to 1 by -1) {
      val j = r.nextInt(i + 1); val t = ids(i); ids(i) = ids(j); ids(j) = t
    }
    // component sizes: one large component, the rest drawn at random
    val inComps = p.nodes - p.isolated
    val cuts = (Seq(0, inComps / 3) ++
      Seq.fill(p.components - 2)(inComps / 3 + r.nextInt(inComps - inComps / 3)) ++
      Seq(inComps)).sorted.distinct
    val edgeSet = mutable.LinkedHashSet[(Long, Long)]()
    val component = mutable.HashMap[Long, Long]()
    cuts.sliding(2).foreach { case Seq(a, b) =>
      val members = ids.slice(a, b)
      val cmin = members.min
      members.foreach(component(_) = cmin)
      def add(u: Long, v: Long): Unit =
        if (u != v) edgeSet += (if (r.nextBoolean()) (u, v) else (v, u))
      for (i <- 1 until members.length) add(members(i), members(r.nextInt(i)))
      val extra = (members.length * p.avgOutDegree).toLong - (members.length - 1)
      var k = 0L
      while (k < extra && members.length > 2) {
        add(members(r.nextInt(members.length)), members(r.nextInt(members.length))); k += 1
      }
    }
    ids.drop(inComps).foreach(n => component(n) = n)
    val edges = edgeSet.toArray
    val nodesPath = dir.resolve("nodes.csv"); val edgesPath = dir.resolve("edges.csv")
    Files.write(nodesPath, ids.sorted.map(_.toString).toSeq.asJava, UTF_8)
    Files.write(edgesPath, edges.map { case (u, v) => s"$u,$v" }.toSeq.asJava, UTF_8)
    GraphInputs(nodesPath, edgesPath, ids.sorted, edges, component.toMap)
  }
}

// ------------------------------------------------------------- corpus

final case class CorpusInputs(vectorsPath: Path, queryPaths: Vector[Path], docsPath: Path,
                              vectors: Array[Array[Double]], queries: Vector[Array[Array[Double]]],
                              docs: Array[String], mustFind: Set[(Long, Long)],
                              bm25Queries: Seq[Long], dims: Int) {
  def sizes: Map[String, Any] = Map("vectors" -> vectors.length, "dims" -> dims,
    "query_batches" -> queries.size, "queries_per_batch" -> queries.head.length,
    "docs" -> docs.length, "planted_pairs" -> mustFind.size,
    "bm25_queries" -> bm25Queries.size)
}

/** Embeddings drawn around planted cluster centres, query batches from
  * the same distribution, and whitespace-tokenized documents over a
  * Zipf-like vocabulary with planted near-duplicate clusters (copies of
  * a base document with a few word substitutions). Vector ids and
  * document ids are row positions. */
object CorpusGen {
  final case class Params(vectors: Int, dims: Int, clusters: Int, noise: Double,
                          queryBatches: Int, queriesPerBatch: Int, docs: Int,
                          docWordsMin: Int, docWordsMax: Int, vocab: Int,
                          dupClusters: Int, bm25Queries: Int)

  /** Planted pairs whose exact 3-shingle Jaccard is at least this must
    * all be reported by MinHash (32 bands x 4 rows miss such a pair
    * with probability below 1e-5). */
  val MustFindJaccard = 0.75

  def shingles(doc: String, n: Int = 3): Set[String] = {
    val w = doc.toLowerCase(Locale.ROOT).split("\\s+").filter(_.nonEmpty)
    if (w.length < n) Set(w.mkString(" ")) else w.sliding(n).map(_.mkString(" ")).toSet
  }

  def jaccard(a: Set[String], b: Set[String]): Double = {
    val inter = a.count(b.contains)
    inter.toDouble / (a.size + b.size - inter)
  }

  def generate(dir: Path, seed: Long, p: Params): CorpusInputs = {
    val r = new SplittableRandom(seed)
    Files.createDirectories(dir)
    def unit(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n)
    }
    val centres = Array.fill(p.clusters)(unit(Array.fill(p.dims)(r.nextGaussian())))
    def draw(): Array[Double] = {
      val c = centres(r.nextInt(p.clusters))
      c.map(x => x + p.noise * r.nextGaussian())
    }
    val vectors = Array.fill(p.vectors)(draw())
    val queries = Vector.fill(p.queryBatches)(Array.fill(p.queriesPerBatch)(draw()))
    def vecLine(id: Int, v: Array[Double]) =
      s"""{"id":$id,"v":[${v.map(_.toString).mkString(",")}]}"""
    val vectorsPath = dir.resolve("vectors.jsonl")
    Files.write(vectorsPath, vectors.indices.map(i => vecLine(i, vectors(i))).asJava, UTF_8)
    val queryPaths = queries.zipWithIndex.map { case (qb, b) =>
      val path = dir.resolve(f"queries-$b%02d.jsonl")
      Files.write(path, qb.indices.map(i => vecLine(i, qb(i))).asJava, UTF_8)
      path
    }

    val vocab = (0 until p.vocab).map(i => Gen.token(r, 3 + r.nextInt(6)) + i)
    // Zipf-like word draw: index = floor(vocab^u) - 1
    def word(): String = vocab(math.min(p.vocab - 1,
      (math.pow(p.vocab.toDouble, r.nextDouble()) - 1).toInt))
    def doc(): Array[String] =
      Array.fill(p.docWordsMin + r.nextInt(p.docWordsMax - p.docWordsMin + 1))(word())
    val docs = Array.fill(p.docs)(doc())
    // planted clusters: a base document and one or two edited copies,
    // written into distinct random slots
    val slots = (0 until p.docs).toArray
    for (i <- slots.length - 1 to 1 by -1) {
      val j = r.nextInt(i + 1); val t = slots(i); slots(i) = slots(j); slots(j) = t
    }
    var next = 0
    val clusters = (0 until p.dupClusters).map { _ =>
      val baseSlot = slots(next); next += 1
      val copies = (0 until 1 + r.nextInt(2)).map { _ =>
        val s = slots(next); next += 1
        val w = docs(baseSlot).clone()
        (0 until 1 + r.nextInt(3)).foreach(_ => w(r.nextInt(w.length)) = word())
        docs(s) = w
        s
      }
      baseSlot +: copies
    }
    val text = docs.map(_.mkString(" "))
    val sh = text.map(shingles(_))
    val mustFind = clusters.flatMap { c =>
      for (a <- c; b <- c if a < b && jaccard(sh(a), sh(b)) >= MustFindJaccard)
        yield (a.toLong, b.toLong)
    }.toSet
    val docsPath = dir.resolve("docs.jsonl")
    Files.write(docsPath, text.indices.map(i =>
      s"""{"id":$i,"text":${Json.render(text(i))}}""").asJava, UTF_8)
    val bm25Queries = clusters.take(p.bm25Queries).map(_.head.toLong)
    CorpusInputs(vectorsPath, queryPaths, docsPath, vectors, queries, text, mustFind,
      bm25Queries, p.dims)
  }
}
