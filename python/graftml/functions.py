"""SQL-callable conversion/similarity functions (mirrors
flink-ml-python/pyflink/ml/functions.py).

vector_to_array / array_to_vector re-export pyspark's codegen'd
implementations; cosine_similarity is graft's native Catalyst
expression and needs register() (or the GraftExtensions session
extension) on the session first.
"""

from pyspark.ml.functions import vector_to_array, array_to_vector  # noqa: F401
from pyspark.sql import SparkSession
from pyspark.sql.functions import call_function


def register(spark: SparkSession) -> None:
    """Register graft's SQL function names on the session (idempotent)."""
    spark._jvm.graft.functions.Functions.register(spark._jsparkSession)


def cosine_similarity(a, b):
    """Cosine similarity of two array<double> columns (whole-stage
    codegen); call register(spark) once per session before use."""
    return call_function("cosineSimilarity", a, b)


def read_jsonl(spark, path, schema, add_source_file=False):
    """Pinned-schema JSONL corpus ingest with corrupt-line routing
    (delegates to graft.sources.CorpusReader). Returns (records,
    corrupt): records has exactly the schema's columns; corrupt has
    (raw_line, source_file) for lines that failed to parse."""
    from pyspark.sql import DataFrame
    jschema = spark._jvm.org.apache.spark.sql.types.DataType.fromJson(schema.json())
    t = spark._jvm.graft.sources.CorpusReader.jsonl(
        spark._jsparkSession, path, jschema, bool(add_source_file))
    return DataFrame(t._1(), spark), DataFrame(t._2(), spark)


def connected_components(edges, src="src", dst="dst", max_iter=50,
                         driver_edge_limit=None, algorithm="star"):
    """Connected components over an edge-list DataFrame: returns a
    DataFrame (id, component) where component is the minimum vertex id
    reachable from id. Delegates to graft.dedup.ConnectedComponents
    (driver union-find for small edge lists; distributed alternating
    large-star/small-star contraction — or min-label propagation with
    algorithm="minlabel" — above driver_edge_limit)."""
    from pyspark.sql import DataFrame
    spark = edges.sparkSession
    cc = spark._jvm.graft.dedup.ConnectedComponents
    if driver_edge_limit is None:
        driver_edge_limit = cc.DriverEdgeLimit()
    jdf = cc.run(edges._jdf, src, dst, int(max_iter), int(driver_edge_limit),
                 algorithm).state()
    return DataFrame(jdf, spark)


def page_rank(edges, src="src", dst="dst", damping_factor=0.85,
              num_iter=20, tol=0.0, weight_col="", id_out="id",
              rank_out="pagerank"):
    """PageRank over an edge-list DataFrame: returns (id_out, rank_out)
    with ranks summing to 1 (dangling mass redistributed uniformly).
    Delegates to graft.graph.PageRank — the share table shuffles once,
    each iteration moves only the O(V) rank table. weight_col="" means
    unweighted; tol > 0 adds an early-stop L1 convergence check. The
    result DataFrame is itself persisted (internal caches released);
    call result.unpersist() once consumed — rename via id_out/rank_out,
    not .select, so the unpersist stays effective."""
    from pyspark.sql import DataFrame
    spark = edges.sparkSession
    jdf = spark._jvm.graft.graph.PageRank.run(
        edges._jdf, src, dst, float(damping_factor), int(num_iter),
        float(tol), weight_col, id_out, rank_out).state()
    return DataFrame(jdf, spark)


def personalized_page_rank(edges, seeds, src="src", dst="dst",
                           seed_col="id", damping_factor=0.85, num_iter=20,
                           tol=0.0, weight_col="", id_out="id",
                           rank_out="pagerank"):
    """Personalized PageRank (Haveliwala 2002): the teleport
    distribution concentrates on ``seeds`` (one id column) instead of
    being uniform — seed-relative centrality for whitelist-biased
    corpus selection. Dangling mass returns to the seeds, so ranks
    still sum to 1. Seeds absent from the graph are ignored (at least
    one must be present). Same cache-release contract as page_rank."""
    from pyspark.sql import DataFrame
    spark = edges.sparkSession
    jdf = spark._jvm.graft.graph.PageRank.runPersonalized(
        edges._jdf, seeds._jdf, src, dst, seed_col, float(damping_factor),
        int(num_iter), float(tol), weight_col, id_out, rank_out).state()
    return DataFrame(jdf, spark)


def label_propagation(edges, src="src", dst="dst", num_iter=10,
                      directed=False, weight_col="", id_out="id",
                      label_out="label"):
    """Synchronous label propagation (Raghavan et al. 2007) community
    detection: label_0(v) = v; each round every vertex adopts its
    neighbors' most frequent label (ties -> smallest; no neighbors ->
    keep). Undirected by default (edges symmetrized); self-loops are
    dropped; parallel edges vote with multiplicity — or with their
    summed weights when weight_col names a positive edge-weight column
    (the natural setting for similarity-weighted graphs); early-stops
    when no label changes. Deterministic — synchronous updates replay
    exactly, including 2-cycles on bipartite structures (num_iter
    bounds them). Same cache-release contract as page_rank."""
    from pyspark.sql import DataFrame
    spark = edges.sparkSession
    jdf = spark._jvm.graft.graph.LabelPropagation.run(
        edges._jdf, src, dst, int(num_iter), bool(directed), weight_col,
        id_out, label_out).state()
    return DataFrame(jdf, spark)


def hits(edges, src="src", dst="dst", num_iter=20, tol=0.0, weight_col="",
         id_out="id", hub_out="hub", auth_out="authority"):
    """HITS hubs/authorities (Kleinberg 1999) over an edge-list
    DataFrame: returns (id_out, hub_out, auth_out) with each score
    column summing to 1 (synchronous L1-normalized iteration —
    rankings identical to the classic L2 form). Delegates to
    graft.graph.Hits; the edge table is partitioned twice up front
    (once per join direction) and never re-partitioned — per-round
    exchanges are reduced to O(V) rows by partial aggregation. With
    ``tol`` > 0 the loop stops early once the hub vector's L1
    movement falls below it (same contract as page_rank). The result
    is persisted (internal caches and checkpoints released): call
    result.unpersist() once consumed."""
    from pyspark.sql import DataFrame
    spark = edges.sparkSession
    jdf = spark._jvm.graft.graph.Hits.run(
        edges._jdf, src, dst, int(num_iter), float(tol), weight_col,
        id_out, hub_out, auth_out).state()
    return DataFrame(jdf, spark)


def bfs(edges, seeds, src="src", dst="dst", seed_col="id", max_iter=20,
        undirected=False, id_out="id", dist_out="distance"):
    """Multi-source BFS hop distances over an unweighted edge list:
    returns one row per REACHED vertex (id_out, dist_out), d(seed)=0,
    minimum hops from any seed. Directed by default; undirected=True
    symmetrizes once up front. Unreached vertices emit no row (left
    join + coalesce for a sentinel). Delegates to graft.graph.Bfs:
    the edge table is partitioned once, each round expands only the
    frontier, so total join work is O(edges) across the whole run.
    Same cache-release contract as hits."""
    from pyspark.sql import DataFrame
    spark = edges.sparkSession
    jdf = spark._jvm.graft.graph.Bfs.run(
        edges._jdf, seeds._jdf, src, dst, seed_col, int(max_iter),
        bool(undirected), id_out, dist_out).state()
    return DataFrame(jdf, spark)


def host_edges(pages, url_col="url", html_col="html"):
    """Crawl link-graph extraction: one (src_host, dst_host) row per
    anchor href in ``html_col``, resolved against the page URL in
    ``url_col`` (absolute / protocol-relative / root-relative /
    relative; mailto:-style and fragment-only hrefs dropped).
    Parallel edges are kept — page_rank/label_propagation treat
    multiplicity as weight; .distinct() for an unweighted graph.
    Delegates to graft.text.LinkGraphExtractor.hostEdges; the
    per-anchor detail (href, resolved URL, host, registrable domain)
    is available from the LinkGraphExtractor stage itself."""
    from pyspark.sql import DataFrame
    spark = pages.sparkSession
    jdf = spark._jvm.graft.text.LinkGraphExtractor.hostEdges(
        pages._jdf, url_col, html_col)
    return DataFrame(jdf, spark)


def zorder_value(df, cols, bits=12, z_col="__z", strategy="linear"):
    """Append a Morton (Z-order) long column: each column bucketized to
    2^bits ("linear" = equi-width min/max; "quantile" = equi-depth via
    approxQuantile — skew-proof) and bit-interleaved. Delegates to
    graft.sources.ZOrderWriter.withZValue."""
    from pyspark.sql import DataFrame
    spark = df.sparkSession
    jvm = spark._jvm
    jcols = jvm.PythonUtils.toSeq([str(c) for c in cols])
    jdf = jvm.graft.sources.ZOrderWriter.withZValue(
        df._jdf, jcols, int(bits), z_col, strategy)
    return DataFrame(jdf, spark)


def zorder_write(df, cols, path, num_files, bits=12, mode="error",
                 strategy="linear"):
    """Write df z-ordered by cols into num_files parquet files, each
    owning a disjoint Morton-value range — range predicates on ANY of
    the z-ordered columns then prune row groups via parquet stats.
    strategy="quantile" keeps the pruning power on skewed columns."""
    spark = df.sparkSession
    jvm = spark._jvm
    jcols = jvm.PythonUtils.toSeq([str(c) for c in cols])
    jmode = jvm.org.apache.spark.sql.SaveMode.valueOf(
        {"error": "ErrorIfExists", "overwrite": "Overwrite",
         "append": "Append", "ignore": "Ignore"}[mode])
    jvm.graft.sources.ZOrderWriter.write(df._jdf, jcols, path, int(num_files),
                                         int(bits), jmode, strategy)


def hamming_pairs(df, id_col, fp_col, max_hamming, num_bands=4):
    """All id pairs (a < b) whose 64-bit fingerprints are within
    max_hamming bits — the banded Hamming join shared by SimHasher,
    ImageDHasher and AudioDHasher (full recall while
    max_hamming < num_bands; no all-pairs comparison)."""
    from pyspark.sql import DataFrame
    spark = df.sparkSession
    jdf = spark._jvm.graft.dedup.HammingJoin.pairs(
        df._jdf, id_col, fp_col, int(max_hamming), int(num_bands))
    return DataFrame(jdf, spark)


def hamming_cluster(df, id_col, fp_col, max_hamming, num_bands=4):
    """Per-id near-duplicate cluster report over a 64-bit fingerprint
    column: (id, cluster_id = min id among DIRECT Hamming neighbors,
    is_duplicate, rep_hamming = exact distance to the cluster
    representative). Null fingerprints cluster alone.

    SINGLE-HOP, not a transitive clustering: exact when duplicate
    groups are cliques (every variant within max_hamming of every
    other), but on a Hamming chain a-b-c with a and c farther apart
    than max_hamming, c's cluster_id is b while b's is a — the ids do
    not partition the data. Use hamming_cluster_components for chains."""
    from pyspark.sql import DataFrame
    spark = df.sparkSession
    jdf = spark._jvm.graft.dedup.HammingJoin.clusterWithRep(
        df._jdf, id_col, fp_col, int(max_hamming), int(num_bands))
    return DataFrame(jdf, spark)


def hamming_cluster_multi(df, id_col, modalities, max_hamming, num_bands=4):
    """CROSS-MODAL transitive dedup: ``modalities`` maps a modality
    name to its 64-bit fingerprint column on the same table (e.g.
    ``{"image": "img_fp", "text": "text_fp"}``); each modality's
    banded near-dup pairs union into one edge list closed by connected
    components, so documents linked through ANY chain of modalities
    (A shares an image with B, B shares text with C) collapse to one
    canonical cluster_id. Output: (id, cluster_id, is_duplicate,
    via = comma-joined sorted modality names with an incident edge,
    '' when none). One shared threshold across modalities; a null
    fingerprint drops out of that modality's join only. Use the Scala
    HammingJoin.clusterComponentsMulti overload for per-modality
    thresholds."""
    from pyspark.sql import DataFrame
    spark = df.sparkSession
    jvm = spark._jvm
    names = sorted(modalities)
    jnames = jvm.PythonUtils.toSeq([str(n) for n in names])
    jcols = jvm.PythonUtils.toSeq([str(modalities[n]) for n in names])
    jdf = jvm.graft.dedup.HammingJoin.clusterComponentsMulti(
        df._jdf, id_col, jnames, jcols, int(max_hamming), int(num_bands))
    return DataFrame(jdf, spark)


def hamming_cluster_components(df, id_col, fp_col, max_hamming, num_bands=4):
    """Transitive-closure variant of hamming_cluster: near-dup pairs
    feed connected components, so chain-shaped groups collapse to one
    canonical cluster_id = the component's min id. Same output shape;
    rep_hamming may exceed max_hamming on a chain (it measures how far
    the closure reached)."""
    from pyspark.sql import DataFrame
    spark = df.sparkSession
    jdf = spark._jvm.graft.dedup.HammingJoin.clusterComponents(
        df._jdf, id_col, fp_col, int(max_hamming), int(num_bands))
    return DataFrame(jdf, spark)
