package graft

import graft.api.{Estimator, Model, Transformer}
import graft.param.{ParamCodec, WithParams}

/**
 * Generates one markdown reference page per public stage into
 * `docs/operators/`, from the live Params metadata (name, type,
 * default, description) — the docs can never drift from the code
 * because they ARE the code's own param registry, re-rendered.
 * Mirrors the reference's docs site layout (one markdown page per
 * stage with a params table and an example, as under the
 * reference's docs/content/docs/operators directory).
 *
 * Run: `sbt "runMain graft.DocGen"` (writes docs/, idempotent).
 */
object DocGen {

  /** Public stage surface (estimator/transformer entry points; each
    * estimator's page also documents its model class). Mirrors
    * python/graftml/__init__.py's registry. */
  private val stages: Seq[String] = Seq(
    "graft.feature.Binarizer", "graft.feature.Bucketizer", "graft.feature.DCT",
    "graft.feature.ElementwiseProduct", "graft.feature.FeatureHasher",
    "graft.feature.HashingTF", "graft.feature.Interaction", "graft.feature.NGram",
    "graft.feature.Normalizer", "graft.feature.PolynomialExpansion",
    "graft.feature.RandomSplitter", "graft.feature.RegexTokenizer",
    "graft.feature.SQLTransformer", "graft.feature.StopWordsRemover",
    "graft.feature.Tokenizer", "graft.feature.VectorAssembler",
    "graft.feature.VectorSlicer", "graft.feature.IndexToStringModel",
    "graft.feature.CountVectorizer", "graft.feature.IDF", "graft.feature.Imputer",
    "graft.feature.KBinsDiscretizer", "graft.feature.MaxAbsScaler",
    "graft.feature.MinHashLSH", "graft.feature.MinMaxScaler", "graft.feature.PCA",
    "graft.feature.OneHotEncoder", "graft.feature.RobustScaler",
    "graft.feature.StandardScaler", "graft.feature.StringIndexer",
    "graft.feature.UnivariateFeatureSelector",
    "graft.feature.VarianceThresholdSelector", "graft.feature.VectorIndexer",
    "graft.feature.DeterministicShuffler", "graft.feature.GroupedSplitter",
    "graft.feature.StratifiedSampler", "graft.feature.WeightedMixer",
    "graft.feature.WeightedSampler",
    "graft.feature.EpochMixer",
    "graft.feature.FrequencyEncoder", "graft.feature.TargetEncoder",
    "graft.feature.LagFeaturizer", "graft.feature.Resampler",
    "graft.classification.Knn", "graft.classification.LinearSVC",
    "graft.classification.LogisticRegression", "graft.classification.NaiveBayes",
    "graft.regression.LinearRegression",
    "graft.regression.IsotonicCalibrator",
    "graft.clustering.AgglomerativeClustering", "graft.clustering.KMeans",
    "graft.stats.ChiSqTest", "graft.stats.ANOVATest", "graft.stats.FValueTest",
    "graft.stats.DriftDetector", "graft.stats.DataValidator",
    "graft.stats.ColumnProfiler", "graft.stats.CorrelationMatrix",
    "graft.stats.SkewReport",
    "graft.evaluation.BinaryClassificationEvaluator",
    "graft.evaluation.MulticlassEvaluator",
    "graft.evaluation.ClusteringEvaluator",
    "graft.evaluation.CalibrationEvaluator",
    "graft.evaluation.RegressionEvaluator",
    "graft.recommendation.Swing",
    "graft.streaming.OnlineKMeans", "graft.streaming.OnlineLogisticRegression",
    "graft.streaming.OnlinePCA",
    "graft.streaming.OnlineStandardScaler", "graft.streaming.Sessionizer",
    "graft.streaming.StreamingAnomalyDetector",
    "graft.streaming.StreamingDeduplicator",
    "graft.dedup.BloomDecontaminator",
    "graft.dedup.CosineDeduplicator", "graft.dedup.CosineIndexer",
    "graft.dedup.Decontaminator",
    "graft.dedup.EntityResolver", "graft.dedup.HammingIndexer",
    "graft.dedup.MinHashDeduplicator", "graft.dedup.MinHashIndexer",
    "graft.dedup.NgramJaccardJoin",
    "graft.dedup.SimHasher", "graft.dedup.SpanDeduplicator",
    "graft.text.AnchorTextRollup",
    "graft.text.Bm25Scorer", "graft.text.BpeTrainer", "graft.text.C4Filter",
    "graft.text.ChunkSplitter",
    "graft.text.CorpusOverlap", "graft.text.CollocationScorer",
    "graft.text.KeywordExtractor",
    "graft.text.DocumentFingerprinter", "graft.text.ExactDeduplicator",
    "graft.text.LanguageDetector", "graft.text.LineDeduplicator",
    "graft.text.FrequentNgrams", "graft.text.GopherFilter",
    "graft.text.ImportanceScorer",
    "graft.text.FrontierBuilder",
    "graft.text.HtmlExtractor", "graft.text.IntraDocDeduplicator",
    "graft.text.LinkGraphExtractor", "graft.text.MainContentExtractor",
    "graft.text.NgramLm", "graft.text.PiiRedactor", "graft.text.RepetitionStats",
    "graft.text.RobotsTxtParser", "graft.text.RobotsUrlFilter",
    "graft.text.RobotsDirectives", "graft.text.CrawlScheduler",
    "graft.text.SequencePacker", "graft.text.SitemapExtractor",
    "graft.text.TextNormalizer",
    "graft.text.UrlCanonicalizer", "graft.text.UrlParser",
    "graft.text.WarcParser",
    "graft.text.TextQualityScorer",
    "graft.text.TokenCounter",
    "graft.ann.BruteForceCosineKnn", "graft.ann.CosineLshKnn",
    "graft.ann.IvfCosineKnn", "graft.ann.IvfIndexer", "graft.ann.ProductQuantizer",
    "graft.ann.ScalarQuantizer",
    "graft.multimodal.AudioDecoder", "graft.multimodal.AudioDHasher",
    "graft.multimodal.BinaryDecodeStub",
    "graft.multimodal.FrameSampler",
    "graft.multimodal.ImageDecoder", "graft.multimodal.ImageDHasher",
    "graft.multimodal.VideoShotHasher",
    "graft.multimodal.VideoDecoder", "graft.multimodal.VideoDHasher",
    "graft.join.AsOfJoiner", "graft.join.IntervalJoiner", "graft.join.RangeJoiner",
    "graft.join.FuzzyJoiner", "graft.join.Scd2Builder")

  /** Function-tier surface: object APIs that take/return DataFrames
    * but have no Params registry (the graph tier + Hamming
    * clustering), invisible to the instantiate()/params reflection
    * above — hand-registered so the engine's most differentiated tier
    * appears in its own docs. Each entry: fully-qualified object name,
    * one-line summary, (signature, description) rows. */
  private val objectPages: Seq[(String, String, Seq[(String, String)])] = Seq(
    ("graft.graph.PageRank",
      "PageRank over an edge-list DataFrame — ranks sum to 1, dangling mass redistributed; " +
        "the share table shuffles once, each iteration moves only the O(V) rank table.",
      Seq(
        "run(edges, srcCol, dstCol, dampingFactor, numIter, tol, weightCol, idOut, rankOut)" ->
          "Classic PageRank: returns a LoopResult — state (idOut, rankOut), rounds, and the L1 deltas when tol > 0 in history. weightCol=\"\" = unweighted (parallel edges count); tol > 0 adds an L1 early stop. Result is persisted — call result.unpersist() once consumed; rename via idOut/rankOut, not .select.",
        "runPersonalized(edges, seeds, srcCol, dstCol, seedCol, dampingFactor, numIter, tol, weightCol, idOut, rankOut)" ->
          "Personalized PageRank (Haveliwala 2002): teleport concentrates on the seed set; dangling mass returns to the seeds so ranks still sum to 1. Seeds absent from the graph are ignored (at least one must be present).")),
    ("graft.graph.Hits",
      "HITS hubs/authorities (Kleinberg 1999) over an edge-list DataFrame — " +
        "synchronous L1-normalized iteration (rankings identical to the L2 classic), " +
        "both score columns sum to 1; the edge table is partitioned twice up front and " +
        "never re-partitioned — per-round exchanges are reduced to O(V) by partial aggregation.",
      Seq(
        "run(edges, srcCol, dstCol, numIter, tol, weightCol, idOut, hubOut, authOut)" ->
          "Returns a LoopResult — state (idOut, hubOut, authOut), one row per vertex; rounds; the hub L1 deltas when tol > 0 in history. weightCol=\"\" = unweighted (parallel edges accumulate); tol > 0 adds an L1 early stop on the hub vector (same contract as PageRank); vertices without in-edges get authority 0, without out-edges hub 0; self-loops legal. Result is persisted — call result.unpersist() once consumed; nothing else of the call remains.")),
    ("graft.graph.Bfs",
      "Multi-source BFS hop distances over an unweighted edge list — crawl depth from a " +
        "seed whitelist, or distance-from-gold on any entity graph; the edge table is " +
        "partitioned once and each round expands only the frontier, so total join work " +
        "is O(E) across the whole run.",
      Seq(
        "run(edges, seeds, srcCol, dstCol, seedCol, maxIter, undirected, idOut, distOut)" ->
          "Returns a LoopResult — state: one row per REACHED vertex (idOut, distOut), persisted; rounds = non-empty frontiers, their sizes in history. d(seed) = 0, integer minimum-hop distances (exactly SQL-replayable). Directed by default, undirected=true symmetrizes up front; unreached vertices emit no row; early-stops when the frontier empties.")),
    ("graft.graph.LabelPropagation",
      "Synchronous label propagation (Raghavan et al. 2007) community detection: " +
        "deterministic, exactly replayable — argmax votes with min-label ties, " +
        "early-stop when no label changes.",
      Seq(
        "run(edges, srcCol, dstCol, numIter, directed, weightCol, idOut, labelOut)" ->
          "Returns a LoopResult — state (idOut, labelOut), persisted; rounds; each round's changed-label count in history. Undirected by default (edges symmetrized); self-loops dropped; parallel edges vote with multiplicity, or with summed weights when weightCol names a positive edge-weight column (integer-valued weights keep replay exact; float ties are ulp-sensitive). Only the O(V) label table shuffles per round on a once-partitioned edge table.")),
    ("graft.dedup.ConnectedComponents",
      "Connected components over an edge list (Kiveris et al. 2014 star contraction; " +
        "a min-label variant for small-diameter graphs) — the closure step under every " +
        "transitive-dedup operator in the engine.",
      Seq(
        "run(edges, srcCol, dstCol, idOut, componentOut, maxIter)" ->
          "Returns a LoopResult — state (idOut, componentOut), persisted, with each vertex mapped to its component's minimum id. Star contraction: rounds of large/small-star operations, converging in O(log n) rounds on any diameter.")),
    ("graft.dedup.HammingJoin",
      "Banded near-duplicate machinery over 64-bit perceptual/SimHash fingerprints: " +
        "band-bucket equi-joins (never all pairs) with the exact bit_count filter inside " +
        "the join, then optional connected-component closure.",
      Seq(
        "similarityJoin(df, idCol, maxHamming, numBands, fpCol)" ->
          "All pairs (id_a < id_b) within maxHamming bits, found via numBands banded buckets (pigeonhole-complete when numBands > maxHamming).",
        "clusterWithRep(df, idCol, fpCol, maxHamming, numBands)" ->
          "Single-hop clustering: every row keyed to the minimum id among its DIRECT neighbors (clique-shaped reports; a chain's far ends keep different reps).",
        "clusterComponents(df, idCol, fpCol, maxHamming, numBands)" ->
          "Transitive closure: banded pairs fed through ConnectedComponents, so Hamming CHAINS collapse into one cluster; rep_hamming can exceed maxHamming (it measures the closure's reach).",
        "clusterComponentsMulti(df, idCol, specs...)" ->
          "Cross-modal transitive dedup: per-modality banded edge lists unioned into ONE component closure — a document is a duplicate if ANY payload modality says so; 'via' records the incident modalities.")))

  private def objectPage(fqcn: String, summary: String,
      fns: Seq[(String, String)]): String = {
    val name = fqcn.substring(fqcn.lastIndexOf('.') + 1)
    val sb = new StringBuilder
    sb ++= s"# $name\n\n"
    sb ++= s"`$fqcn` — object (DataFrame functions; no Params)\n\n"
    sb ++= s"${esc(summary)}\n\n"
    sb ++= "## Functions\n\n"
    sb ++= "| signature | description |\n|---|---|\n"
    fns.foreach { case (sig, desc) => sb ++= s"| `${esc(sig)}` | ${esc(desc)} |\n" }
    sb ++= "\n## Example\n\n"
    sb ++= s"""```scala
       |import $fqcn
       |
       |val edges = spark.read.parquet("...")  // see examples/ for runnable mains
       |val out = $name.${fns.head._1.takeWhile(_ != '(')}(edges)
       |```
       |
       |Python: `graftml.functions` wraps the graph tier (`page_rank`,
       |`personalized_page_rank`, `hits`, `label_propagation`,
       |`host_edges`).
       |""".stripMargin
    sb.toString
  }

  /** Hand-authored sections appended to specific STAGE pages:
    * DataFrame-function methods the params reflection cannot show. */
  private val stageMethodNotes: Map[String, Seq[(String, String)]] = Map(
    "graft.multimodal.VideoDHasher" -> Seq(
      "similarityJoin(hashed, idCol, maxHamming, numBands)" ->
        "All video pairs whose 3-slot signatures agree within maxHamming bits PER SLOT: candidates banded on slot 0 with the mid/last fingerprints carried through the band explode, so the exact filter runs inside the one join.",
      "clusterWithRep(hashed, idCol, maxHamming, numBands)" ->
        "Single-hop clustering over the 3-slot signature (clique-shaped near-dup reports).",
      "clusterComponents(hashed, idCol, maxHamming, numBands)" ->
        "Transitive closure over the 3-slot signature: chained re-encodes collapse into one cluster via ConnectedComponents."),
    "graft.text.LinkGraphExtractor" -> Seq(
      "LinkGraphExtractor.hostEdges(pages, urlCol, htmlCol)" ->
        "The crawl link graph in one call: one (src_host, dst_host) row per anchor, parallel edges kept (PageRank/LabelPropagation treat multiplicity as weight). Per-anchor detail (href, TEXT, resolved URL, host, registrable domain) comes from transform() — anchor text rides the same regex matches as the href, so the columns stay aligned."),
    "graft.multimodal.VideoShotHasher" -> Seq(
      "containmentJoin(hashed, idCol)" ->
        "All video pairs with shot containment |A intersect B| / min(|A|, |B|) >= minOverlap — robust to trimming and shot reordering, the edits that break VideoDHasher's 3-slot alignment; one equi-join on exploded shot hashes, hot 'stop shots' removable via maxVideosPerShot."))

  private def instantiate(fqcn: String): WithParams[_] =
    Class.forName(fqcn).getDeclaredConstructor().newInstance().asInstanceOf[WithParams[_]]

  private def kindOf(s: Any): String = s match {
    case _: Estimator[_, _] => "Estimator"
    case _: Model[_]        => "Model"
    case _: Transformer[_]  => "Transformer"
    case _                  => "AlgoOperator"
  }

  /** Default rendered through the param's own JSON codec so the page
    * shows exactly what persistence writes. */
  private def defaultOf(p: graft.param.Param[_]): String = p.defaultValue match {
    case None => "_(required)_"
    case Some(v) =>
      val s = ParamCodec.toJsonString(p.asInstanceOf[graft.param.Param[Any]].jsonEncode(v))
      val shown = if (s.length > 40) s.take(37) + "..." else s
      s"`$shown`"
  }

  private def esc(s: String): String = s.replace("|", "\\|").replace("\n", " ")

  private def modelClassOf(fqcn: String): Option[String] = {
    val m = fqcn + "Model"
    try { Class.forName(m); Some(m) } catch { case _: Throwable => None }
  }

  private def page(fqcn: String): String = {
    val stage = instantiate(fqcn)
    val name = fqcn.substring(fqcn.lastIndexOf('.') + 1)
    val kind = kindOf(stage)
    val sb = new StringBuilder
    sb ++= s"# $name\n\n"
    sb ++= s"`$fqcn` — $kind\n\n"
    sb ++= s"${firstSentenceOfScaladoc(stage)}\n\n"
    sb ++= "## Parameters\n\n"
    sb ++= "| name | default | description |\n|---|---|---|\n"
    stage.params.foreach { p =>
      sb ++= s"| `${p.name}` | ${defaultOf(p)} | ${esc(p.description)} |\n"
    }
    modelClassOf(fqcn).foreach { mc =>
      val model = instantiate(mc)
      val extra = model.params.filterNot(mp => stage.params.exists(_.name == mp.name))
      if (extra.nonEmpty) {
        sb ++= s"\n## Model parameters (`$mc`)\n\n"
        sb ++= "| name | default | description |\n|---|---|---|\n"
        extra.foreach { p =>
          sb ++= s"| `${p.name}` | ${defaultOf(p)} | ${esc(p.description)} |\n"
        }
      }
    }
    stageMethodNotes.get(fqcn).foreach { fns =>
      sb ++= "\n## DataFrame functions\n\n"
      sb ++= "| signature | description |\n|---|---|\n"
      fns.foreach { case (sig, desc) => sb ++= s"| `${esc(sig)}` | ${esc(desc)} |\n" }
    }
    sb ++= "\n## Example\n\n"
    sb ++= example(fqcn, name, kind)
    sb.toString
  }

  /** Params are self-describing; the page summary comes from the
    * stage's own io-col params when present. */
  private def firstSentenceOfScaladoc(stage: WithParams[_]): String = {
    val io = Seq("inputCol", "inputCols", "featuresCol", "leftTimeCol")
      .flatMap(n => stage.getParam(n)).headOption
    io.map(p => s"Primary input: `${p.name}`.").getOrElse("")
  }

  private def example(fqcn: String, name: String, kind: String): String = {
    val fitLine = kind match {
      case "Estimator" =>
        s"""val model = stage.fit(df)            // returns ${name}Model
           |val out = model.transform(df).head""".stripMargin
      case _ =>
        "val out = stage.transform(df).head"
    }
    s"""```scala
       |import $fqcn
       |
       |val df = spark.read.parquet("...")   // see examples/ for a runnable end-to-end main
       |val stage = new $name()              // .set… fluent params, defaults above
       |$fitLine
       |```
       |
       |A runnable example main for every stage lives under
       |`src/main/scala/graft/examples/` (sbt `runMain`).
       |""".stripMargin
  }

  def main(args: Array[String]): Unit = {
    val outDir = java.nio.file.Paths.get(args.headOption.getOrElse("docs/operators"))
    java.nio.file.Files.createDirectories(outDir)
    val index = new StringBuilder
    index ++= "# Operator reference\n\nGenerated by `sbt \"runMain graft.DocGen\"` " +
      "from the live Params metadata — do not edit by hand.\n\n"
    var prevPkg = ""
    val all: Seq[(String, () => String, String)] =
      stages.map(f => (f, () => page(f), "")) ++
        objectPages.map { case (f, s, fns) =>
          (f, () => objectPage(f, s, fns), " — functions") }
    all.sortBy(_._1).foreach { case (fqcn, body, tag) =>
      val name = fqcn.substring(fqcn.lastIndexOf('.') + 1)
      val pkg = fqcn.substring(0, fqcn.lastIndexOf('.'))
      java.nio.file.Files.writeString(outDir.resolve(s"$name.md"), body())
      if (pkg != prevPkg) { index ++= s"\n## $pkg\n\n"; prevPkg = pkg }
      index ++= s"- [$name]($name.md)$tag\n"
    }
    java.nio.file.Files.writeString(outDir.resolve("README.md"), index.toString)
    println(s"wrote ${all.size} pages to $outDir")
  }
}
