package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.curie.Converter
import graft.fixtures.Transcripts
import graft.model.PrefixRecord

/**
 * Seeded input generators. Everything a workload feeds the program is made
 * here from the workload seed; the same seed gives byte-identical inputs.
 */
object Gen {

  val Obo = "http://purl.obolibrary.org/obo/"

  /** Lexicon rows in the `LiteralMappings` schema: `singles` one-word terms
    * drawn from the corpus noise vocabulary (w0..w19999, see
    * `Transcripts.synthetic`) plus `pairs` two-word terms, so hit density
    * and automaton size are both set by the seed and the sizes. */
  def lexicon(spark: SparkSession, seed: Long, singles: Int, pairs: Int): DataFrame = {
    val rng = new Random(seed ^ 0x1e1c0L)
    val singleWords = rng.shuffle((0 until 20000).toVector).take(singles)
    val rows = mutable.ArrayBuffer[Row]()
    singleWords.zipWithIndex.foreach { case (w, k) =>
      rows += Row("SYN", f"$k%07d", s"w$w", "rdfs:label", s"w$w", "SYN", Seq.empty[String])
    }
    (0 until pairs).foreach { k =>
      val t = s"w${rng.nextInt(20000)} w${rng.nextInt(20000)}"
      rows += Row("SYN", f"${k + singles}%07d", t, "oboInOwl:hasExactSynonym", t, "SYN",
        Seq.empty[String])
    }
    val schema = StructType(Seq(
      StructField("prefix", StringType), StructField("id", StringType),
      StructField("name", StringType), StructField("predicate", StringType),
      StructField("text", StringType), StructField("source", StringType),
      StructField("provenance", ArrayType(StringType))))
    spark.createDataFrame(spark.sparkContext.parallelize(rows.toSeq, 4), schema)
  }

  /** The transcript corpus, written once as zstd parquet: `buckets` files
    * hash-partitioned on conv_id (no conversation spans two files) when
    * `bucketed`, else in generation order. */
  def writeCorpus(spark: SparkSession, seed: Long, nConvs: Long, buckets: Int,
                  bucketed: Boolean, path: String): Unit = {
    val df = Transcripts.synthetic(spark, nConvs, seed = seed)
    val laid = if (bucketed) df.repartition(buckets, col("conv_id")) else df.repartition(buckets)
    laid.write.mode("overwrite").option("compression", "zstd").parquet(path)
  }

  // ---- OBO Graph JSON ontologies -----------------------------------------

  /** What one generated ontology must yield after `prepare`. */
  final case class PlantedOntology(path: String, prefix: String, nodes: Int,
                                    patterns: Int, canonicalSize: Int,
                                    probeText: String, probeCurie: String)

  private val words = Vector("acid", "binding", "cell", "dorsal", "enzyme", "fibre",
    "gland", "heart", "ion", "joint", "kinase", "lobe", "muscle", "nerve", "organ",
    "plate", "quinone", "receptor", "sheath", "tissue", "ulna", "valve", "wall", "zone")

  def converter(nOntologies: Int): Converter = new Converter(
    (0 until nOntologies).map(k => PrefixRecord(s"G$k", s"${Obo}G${k}_", Nil)) ++ Seq(
      PrefixRecord("XR", "http://example.org/xr/", Nil),
      PrefixRecord("BFO", s"${Obo}BFO_", Nil),
      PrefixRecord("oboInOwl", "http://www.geneontology.org/formats/oboInOwl#", Nil),
      PrefixRecord("rdfs", "http://www.w3.org/2000/01/rdf-schema#", Nil)))

  /**
   * One OBO Graph JSON document of `n` nodes for prefix `G<k>`. Every node
   * carries a unique label (every 97th has none), 0-2 unique synonyms; every
   * 5th node an `XR:` xref (plus an unresolvable one, which standardization
   * drops); every 50th node is declared equivalent to its successor through
   * `equivalentNodesSets`. The expected pattern count and canonical-map size
   * are counted here, independently of the program, by a union-find over
   * the planted equivalences.
   */
  def ontology(dir: Path, k: Int, n: Int, seed: Long): PlantedOntology = {
    val rng = new Random(seed * 1000003L + k)
    val prefix = s"G$k"
    def iri(i: Int) = f"$Obo${prefix}_$i%07d"
    def curie(i: Int) = f"$prefix:$i%07d"
    def w() = words(rng.nextInt(words.length))
    val labels = Array.tabulate(n)(i => if (i % 97 == 96) null else s"${w()} ${w()} $k x$i")
    val synonyms = Array.tabulate(n)(i => Seq.tabulate(rng.nextInt(3))(s => s"${w()} s$s $k x$i"))
    val xrefs = Array.tabulate(n)(i => if (i % 5 == 1) Seq(s"XR:$k-$i", s"NOPE:$i") else Nil)
    val ens = (0 until n - 1).filter(_ % 50 == 10).map(i => (i, i + 1))

    val parent = mutable.HashMap[String, String]()
    val touched = mutable.Set[String]()
    def find(x: String): String = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    def union(a: String, b: String): Unit = {
      touched += a += b
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(ra) = rb
    }
    (0 until n).foreach(i => if (xrefs(i).nonEmpty) union(curie(i), xrefs(i).head))
    ens.foreach { case (a, b) => union(curie(a), curie(b)) }
    val canonicalSize = touched.size - touched.toSeq.map(find).distinct.size

    val sb = new java.lang.StringBuilder(n * 220)
    sb.append(s"""{"graphs":[{"id":"$Obo${prefix.toLowerCase}.owl","lbl":"generated $prefix",""")
    sb.append(s""""meta":{"version":"$Obo${prefix.toLowerCase}/releases/$seed/${prefix.toLowerCase}.owl"},"nodes":[""")
    (0 until n).foreach { i =>
      if (i > 0) sb.append(',')
      sb.append(s"""{"id":"${iri(i)}",""")
      if (labels(i) != null) sb.append(s""""lbl":"${labels(i)}",""")
      sb.append(""""type":"CLASS","meta":{"synonyms":[""")
      sb.append(synonyms(i).zipWithIndex.map { case (t, s) =>
        val pred = if (s == 0) "hasExactSynonym" else "hasRelatedSynonym"
        s"""{"val":"$t","pred":"$pred"}"""
      }.mkString(","))
      sb.append("""],"xrefs":[""")
      sb.append(xrefs(i).map(x => s"""{"val":"$x"}""").mkString(","))
      sb.append(s"""],"deprecated":${i % 31 == 30}}}""")
    }
    sb.append("""],"edges":[""")
    (1 until n).foreach { i =>
      if (i > 1) sb.append(',')
      val pred = if (i % 7 == 0) s"${Obo}BFO_0000050" else "is_a"
      sb.append(s"""{"sub":"${iri(i)}","pred":"$pred","obj":"${iri((i - 1) / 2)}"}""")
    }
    sb.append("""],"equivalentNodesSets":[""")
    sb.append(ens.map { case (a, b) => s"""{"nodeIds":["${iri(a)}","${iri(b)}"]}""" }.mkString(","))
    sb.append("]}]}")
    val path = dir.resolve(s"$prefix.json")
    Files.write(path, sb.toString.getBytes(StandardCharsets.UTF_8))

    // probe: the label of the second member of the first equivalence pair
    // must ground to the pair's representative, the smallest CURIE of the
    // ontology's own prefix in its component {a, b, b's XR xref}
    val (a, b) = ens.find { case (_, b) => labels(b) != null }.get
    PlantedOntology(path.toString, prefix, n,
      patterns = labels.count(_ != null) + synonyms.map(_.size).sum,
      canonicalSize = canonicalSize, probeText = labels(b), probeCurie = curie(a))
  }

  // ---- documents and vectors ---------------------------------------------

  /** Planted duplicate structure of a generated document set. */
  final case class PlantedDocs(exactDupIds: Set[Long], nearDupIds: Set[Long])

  /**
   * `n` documents `(doc_id, lang, text)` of 30-80 words from a 3000-word
   * vocabulary. Every 10th document is an exact duplicate of an earlier
   * original (re-cased and re-spaced, which exact dedup folds); every 10th+5
   * is a near duplicate of one (one word replaced).
   */
  def documents(spark: SparkSession, seed: Long, n: Int, path: String): PlantedDocs = {
    val rng = new Random(seed ^ 0xd0c5L)
    val texts = new Array[String](n)
    val exact = mutable.Set[Long]()
    val near = mutable.Set[Long]()
    def fresh(): String = Seq.fill(30 + rng.nextInt(51)) {
      // skewed word frequencies: low ids are common
      val r = rng.nextDouble()
      s"v${(r * r * 3000).toInt}"
    }.mkString(" ")
    (0 until n).foreach { i =>
      texts(i) =
        if (i >= 10 && i % 10 == 0) {
          exact += i
          val src = texts(rng.nextInt(i / 10) * 10 + 1)
          "  " + src.toUpperCase.replace(" ", "   ") + " "
        } else if (i >= 10 && i % 10 == 5) {
          near += i
          val src = texts(rng.nextInt(i / 10) * 10 + 3).split(" ")
          src(rng.nextInt(src.length)) = s"v${3000 + rng.nextInt(1000)}"
          src.mkString(" ")
        } else fresh()
    }
    val rows = texts.indices.map(i => Row(i.toLong, if (i % 3 == 0) "de" else "en", texts(i)))
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("lang", StringType), StructField("text", StringType)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 8), schema)
      .write.mode("overwrite").parquet(path)
    PlantedDocs(exact.toSet, near.toSet)
  }

  /** `n` 64-d vectors `(vec_id, embedding)` around 32 seeded centres. */
  def vectors(spark: SparkSession, seed: Long, n: Int, path: String): Unit = {
    val rng = new Random(seed ^ 0x7ec5L)
    val centres = Array.fill(32)(Array.fill(64)(rng.nextGaussian() * 4))
    val rows = (0 until n).map { i =>
      val c = centres(rng.nextInt(centres.length))
      Row(i.toLong, c.map(_ + rng.nextGaussian()).toSeq)
    }
    val schema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(DoubleType))))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 8), schema)
      .write.mode("overwrite").parquet(path)
  }
}
