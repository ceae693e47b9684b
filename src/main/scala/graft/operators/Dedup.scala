package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale training-data pipelines.
  * These extend the engine beyond the reference's retrieval operators
  * (the reference's only dedup is exact text dedup, dataset.py:729-741)
  * with the standard near-dup family used on web-scale corpora.
  *
  * Scale design: every variant is blocking-key based — candidate pairs
  * come from an equi-join on a short key (hash, band signature, fingerprint
  * chunk), never an all-pairs cross join. At 100 TB the shuffle is
  * O(candidates), and each stage is a plain shuffle-hash/broadcast join
  * Catalyst can plan and AQE can re-balance.
  */
object Dedup {

  // ---------------------------------------------------------------- exact
  /** Exact dedup on arbitrary columns: first-seen (min orderCol) row wins.
    * Hash-groupBy + min_by: partial (map-side) aggregation collapses each
    * group to one row per partition BEFORE the shuffle — a Window
    * formulation would shuffle and per-group-sort every duplicate row. */
  def exactDedup(df: DataFrame, keyCols: Seq[String], orderCol: String): DataFrame = {
    val others = df.columns.filterNot(keyCols.contains).toSeq
    df.groupBy(keyCols.map(col): _*)
      .agg(min_by(struct(others.map(col): _*), col(orderCol)).as("__first"))
      .select(df.columns.toSeq.map(c =>
        if (keyCols.contains(c)) col(c) else col(s"__first.$c").as(c)): _*)
  }

  // ------------------------------------------------------------- tokenize
  /** whitespace word split of trimmed lowercased text */
  def tokens(text: Column): Column =
    split(trim(lower(text)), "\\s+")

  /** distinct word-level n-gram shingles of a text column, first-occurrence
    * order. One tight JVM pass (UDF) for the same reason as
    * [[shingleHashes]]: the transform/slice/concat-per-position expression
    * tree blows past codegen limits and falls back to interpreted
    * evaluation — ~50× slower than this loop on the explode-heavy paths
    * (decontamination, span stats, top-k n-grams). Semantics replicate the
    * expression form exactly: trim = strip 0x20 only (Spark `trim`),
    * locale-free lowercase, `split("\\s+", -1)`, sliding windows joined
    * by one space, distinct keeping first occurrence, null text → null. */
  def shingles(text: Column, n: Int): Column = {
    val u = udf { (t: String) =>
      if (t == null) null
      else {
        var b = 0
        var e = t.length
        while (b < e && t.charAt(b) == ' ') b += 1
        while (e > b && t.charAt(e - 1) == ' ') e -= 1
        val toks = t.substring(b, e)
          .toLowerCase(java.util.Locale.ROOT).split("\\s+", -1)
        if (toks.length < n) Array.empty[String]
        else {
          val seen = new java.util.LinkedHashSet[String]()
          val sb = new java.lang.StringBuilder
          var i = 0
          while (i + n <= toks.length) {
            sb.setLength(0)
            var j = 0
            while (j < n) {
              if (j > 0) sb.append(' ')
              sb.append(toks(i + j)); j += 1
            }
            seen.add(sb.toString); i += 1
          }
          seen.toArray(new Array[String](seen.size))
        }
      }
    }
    u(text)
  }

  // -------------------------------------------------------------- minhash
  @inline private[graft] def splitmix64(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  /** distinct word-n-gram shingle hashes of a text, as one tight per-row
    * pass (UDF). The pure-expression formulation (transform/slice/concat
    * per position × numHashes) generates code past the JIT/codegen limits
    * and fell back to interpreted evaluation — a single JVM loop is both
    * idiomatic-fast and 50× cheaper here. Deterministic: splitmix64 over
    * per-token hashes chained polynomially. */
  def shingleHashes(text: Column, n: Int): Column = {
    val u = udf { (t: String) =>
      Dedup.shingleHashArray(t, n)
    }
    u(text)
  }

  private[operators] def shingleHashArray(t: String, n: Int): Array[Long] = {
    if (t == null) return Array.empty
    val toks = t.trim.toLowerCase.split("\\s+")
    if (toks.length < n) return Array.empty
    val tokHash = toks.map(s => splitmix64(s.hashCode.toLong ^ 0x5851F42D4C957F2DL))
    val seen = new java.util.HashSet[Long]()
    val out = new scala.collection.mutable.ArrayBuffer[Long](toks.length)
    var i = 0
    while (i + n <= toks.length) {
      var h = 0x2545F4914F6CDD1DL
      var j = 0
      while (j < n) { h = splitmix64(h ^ tokHash(i + j)); j += 1 }
      if (seen.add(h)) out += h
      i += 1
    }
    // ascending-sorted: the jaccard verify stage uses the zero-boxing
    // sorted-merge kernel (SortedLongArrayJaccard); minhash mins are
    // order-independent
    val arr = out.toArray
    java.util.Arrays.sort(arr)
    arr
  }

  /** MinHash signature over the hashed-shingle array (Broder '97): slot i
    * = min over shingles of splitmix64(sh ⊕ (seed+i)) — k independent
    * salted hash functions, one pass, overflow-free. */
  def minhashSignatureFromHashes(shingleHashCol: Column, numHashes: Int,
      seed: Long): Column = {
    val u = udf { (sh: Seq[Long]) =>
      // UNSIGNED min (init = unsigned max): the salted hashes live in the
      // full 64-bit domain and the DuckDB oracle replays them as HUGEINTs,
      // where min() is unsigned — a signed min here is a DIFFERENT minhash
      // function that happened to agree on the sf0.01 gate aggregates and
      // silently diverged at sf0.1 (the r9 off-by-one: pair (1290, 3624),
      // jaccard 0.94, banded under unsigned min in 3/4 bands but missed
      // entirely under signed min). Unsigned is also the standard
      // convention for 64-bit minhash.
      val sig = Array.fill(numHashes)(-1L)
      sh.foreach { h =>
        var i = 0
        while (i < numHashes) {
          val v = splitmix64(h ^ (seed + i))
          if (java.lang.Long.compareUnsigned(v, sig(i)) < 0) sig(i) = v
          i += 1
        }
      }
      sig
    }
    u(shingleHashCol)
  }

  /** convenience form over raw text */
  def minhashSignature(text: Column, n: Int, numHashes: Int, seed: Long): Column =
    minhashSignatureFromHashes(shingleHashes(text, n), numHashes, seed)

  /** MinHash-LSH near-dup candidate pairs: signatures cut into `bands`
    * bands of `rowsPerBand`, equi-join on (band, band-signature), then
    * exact Jaccard verification over shingle sets ≥ threshold.
    * Output: (a, b, jaccard) with a < b. */
  def minhashDupPairs(
      df: DataFrame, idCol: String, textCol: String,
      shingleLen: Int = 3, numHashes: Int = 16, bands: Int = 4,
      threshold: Double = 0.7, seed: Long = 42): DataFrame = {
    require(numHashes % bands == 0)
    val rowsPerBand = numHashes / bands
    // no scan-parallelism floor here (r15): the r14 fanText regressed
    // dedup_minhash 2x on the driver's 32-core contract run (task
    // dispatch on a fanned kilobyte relation outweighed the shingle
    // UDF's CPU) — the signature relation is cached, so the shingle pass
    // runs once per call either way
    val withSig = sigCacheSlot.cached(df
      .select(col(idCol).cast("long").as("id"),
        shingleHashes(col(textCol), shingleLen).as("sh"))
      .withColumn("sig", minhashSignatureFromHashes(col("sh"), numHashes, seed)))
    // band join over slim (id, key) rows — the heavy shingle arrays are
    // attached only after candidate pairs are deduped, so the band
    // shuffle moves ids, not kilobyte payloads
    val banded = withSig.select(
      col("id"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        b => concat_ws("_", lit("b"), b.cast("string"),
          concat_ws(",", slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand))))))
        .as(Seq("band", "key")))
      .select(col("id"), col("key"))
    val candidates = banded.as("l").join(banded.as("r"),
        col("l.key") === col("r.key") && col("l.id") < col("r.id"))
      .select(col("l.id").as("a"), col("r.id").as("b"))
      .dropDuplicates("a", "b")
    val sh = withSig.select(col("id"), col("sh"))
    candidates
      .join(sh.select(col("id").as("a"), col("sh").as("sha")), Seq("a"))
      .join(sh.select(col("id").as("b"), col("sh").as("shb")), Seq("b"))
      .select(col("a"), col("b"),
        graft.functions.ArrayFunctions
          .sorted_array_jaccard(col("sha"), col("shb")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Near-dedup policy over candidate pairs: drop every doc that has a
    * more-canonical (smaller-id) near-duplicate. */
  def dropNearDups(df: DataFrame, idCol: String, pairs: DataFrame): DataFrame =
    df.join(pairs.select(col("b").as(idCol)).distinct(), Seq(idCol), "left_anti")

  /** Connected components over an undirected dup-pair relation (a, b):
    * every node labeled with the minimum id reachable from it. This is
    * the principled near-dedup retention unit — pairwise b-side dropping
    * mishandles transitive chains (a~b, b~c, a≁c drops BOTH b and c even
    * though keeping c's cluster-mate a already covers it; worse, chains
    * can drop every member of a cluster except one arbitrary endpoint).
    *
    * Scale shape: per iteration (1) neighbor-min — each node takes the
    * min label in its closed neighborhood (one equi-join + groupBy/min,
    * map-side combinable), then (2) pointer-jumping — label := label of
    * label (self-join), which collapses chains geometrically, so rounds
    * ≈ log(diameter), not diameter. All joins are plain equi-joins on
    * ids; no driver-side graph. Dup clusters are near-cliques, so this
    * converges in 2-3 rounds in practice; `maxIter` is a safety bound
    * checked with a driver-side changed-count per round (one count
    * action over a slim (id, label) relation).
    *
    * Adaptive strategy switch: once the slim edge relation is
    * materialized its exact size is known, and below `driverEdgeCap`
    * directed edges the component labels are computed with a driver-side
    * union-find instead of ~5 rounds × 2 distributed jobs — the same
    * statistics-driven decision Spark itself makes when it swaps a
    * shuffle join for a broadcast join under the size threshold. The cap
    * defaults to 4M directed edges ≈ 64 MB collected, and
    * `graft.local.enabled=false` ([[Regime.enabled]]) turns the driver path
    * off; both paths produce identical labels (min-reachable-id,
    * spec-asserted equal on random graphs). */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 15,
      driverEdgeCap: Long = defaultDriverEdgeCap): DataFrame = {
    // `pairs` is typically an expensive similarity join; scan it ONCE.
    // explode-to-both-directions (instead of union of two selects) keeps it
    // a single pass, and the immediate localCheckpoint pins the slim edge
    // relation so ids / self-loop edges / every iteration below reuse the
    // materialized rows instead of re-running the upstream join (the naive
    // plan re-evaluated it ~5×: 2 union branches × 2 consumers + comp init).
    val undirected = pairs
      .select(explode(array(
        struct(col("a").cast("long").as("src"), col("b").cast("long").as("dst")),
        struct(col("b").cast("long").as("src"), col("a").cast("long").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .localCheckpoint()
    // the checkpoint makes this count a metadata-cheap scan of pinned rows
    val nEdges = undirected.count()
    if (Regime.enabled && nEdges <= driverEdgeCap)
      return driverUnionFind(undirected, nEdges)
    // self-loops make the per-round join a CLOSED-neighborhood min in one
    // equi-join + groupBy — no in-loop union of `comp` with a plan that
    // already contains `comp` (which trips Catalyst's Union constraint
    // rewrite on the shared checkpoint attributes)
    val ids = undirected.select(col("src").as("id")).distinct()
    val edges = undirected
      .union(ids.select(col("id").as("src"), col("id").as("dst")))
      .distinct().cache()
    // localCheckpoint (not cache) each round: comp feeds the next round's
    // plan TWICE (neighbor-min + jump), so with cache the analyzed plan
    // grows ~4× per iteration and Catalyst analysis wedges after a handful
    // of rounds — checkpointing truncates the lineage to a constant-size
    // LogicalRDD. (Reliable-checkpoint dir is the cluster-grade variant.)
    var comp = ids.withColumn("comp", col("id")).localCheckpoint()
    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      // (1) closed-neighborhood min (self-loops supply each node's own
      // label); NOT checkpointed — both its inputs (edges, comp) are
      // already materialized, so letting the jump's self-join evaluate it
      // twice inside ONE job is cheaper than a separate checkpoint job
      // per round (measured: 3 jobs/round → 2 saves ~0.3 s/round here)
      val nbrMin = edges
        .join(comp.withColumnRenamed("id", "dst"), Seq("dst"))
        .groupBy(col("src").as("id")).agg(min("comp").as("comp"))
      // (2) pointer jump: comp := comp(comp) — one checkpoint per round.
      // (Measured: a second jump per round does NOT reduce round count on
      // dup-chain graphs — rounds are limited by neighbor-min relabeling,
      // not pointer depth — so one jump is the cost-optimal setting.)
      val next = nbrMin
        .join(nbrMin.select(col("id").as("comp"), col("comp").as("cc")), Seq("comp"))
        .select(col("id"), col("cc").as("comp"))
        .localCheckpoint()
      // convergence probe: skipped on round 0 — with any edges at all the
      // first round always relabels something, so the count would be a
      // guaranteed-true action (maxIter still bounds the edgeless case)
      val changed =
        if (iter == 0) 1L
        else next.as("n").join(comp.as("o"), Seq("id"))
          .filter(col("n.comp") =!= col("o.comp")).limit(1).count()
      comp.unpersist()
      comp = next
      converged = changed == 0
      iter += 1
    }
    edges.unpersist()
    comp
  }

  /** Driver-edge-count threshold for the union-find fast path: 4M
    * directed edges collect to ~64 MB of longs — broadcast-join-sized,
    * far under driver heap. */
  val defaultDriverEdgeCap: Long = 4_000_000L

  /** Small-graph path: collect the (already materialized, slim) directed
    * edge relation and label components with union-find (path halving +
    * union by rank), then canonicalize each component to its minimum
    * member id — exactly the distributed fixed point. Output schema and
    * node set ((id, comp), one row per node appearing in any edge) match
    * the pointer-jumping path row-for-row. */
  private[operators] def driverUnionFind(undirected: DataFrame,
      nEdges: Long = Long.MaxValue): DataFrame = {
    val spark = undirected.sparkSession
    import spark.implicits._
    // stream edges partition-at-a-time as primitive tuples: peak driver
    // heap is one partition of (Long, Long) + the LongMap — not the
    // whole edge set as boxed Row objects (~100 B/edge ⇒ hundreds of MB
    // at the 4M-edge cap). BELOW 1M edges (~48 MB boxed, trivially
    // driver-safe) collect in ONE job instead: toLocalIterator launches
    // one sequential job PER PARTITION, and a 32-partition slim edge
    // relation was paying ~32 × 30 ms of job overhead for kilobytes of
    // rows (r14 profile of dedup_components)
    val rows = {
      import scala.jdk.CollectionConverters._
      val ds = undirected.select(col("src"), col("dst")).as[(Long, Long)]
      if (nEdges <= 1000000L) ds.collect().iterator
      else ds.toLocalIterator().asScala
    }
    // dense-index arbitrary long ids (LongMap: no boxing, no null-vs-0
    // ambiguity a java.util.HashMap[Long, Int] would introduce)
    val idx = scala.collection.mutable.LongMap.empty[Int]
    val ids = new scala.collection.mutable.ArrayBuffer[Long]()
    val parent = new scala.collection.mutable.ArrayBuffer[Int]()
    val rank = new scala.collection.mutable.ArrayBuffer[Byte]()
    def ix(v: Long): Int = idx.getOrElseUpdate(v, {
      val i = ids.length; ids += v; parent += i; rank += 0; i
    })
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    rows.foreach { r =>
      val a = ix(r._1); val b = ix(r._2)
      val ra = find(a); val rb = find(b)
      if (ra != rb) {
        if (rank(ra) < rank(rb)) parent(ra) = rb
        else if (rank(ra) > rank(rb)) parent(rb) = ra
        else { parent(rb) = ra; rank(ra) = (rank(ra) + 1).toByte }
      }
    }
    val n = ids.length
    val minOfRoot = new Array[Long](n)
    java.util.Arrays.fill(minOfRoot, Long.MaxValue)
    var i = 0
    while (i < n) {
      val r = find(i)
      if (ids(i) < minOfRoot(r)) minOfRoot(r) = ids(i)
      i += 1
    }
    val out = new Array[(Long, Long)](n)
    i = 0
    while (i < n) { out(i) = (ids(i), minOfRoot(find(i))); i += 1 }
    import spark.implicits._
    spark.createDataset(out.toIndexedSeq).toDF("id", "comp")
  }

  /** All-docs component labeling: docs untouched by any pair keep their
    * own id as the component (singleton clusters). */
  def componentLabels(df: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    val comp = connectedComponents(pairs)
    df.select(col(idCol).cast("long").as("id"))
      .join(comp, Seq("id"), "left")
      .select(col("id").as(idCol), coalesce(col("comp"), col("id")).as("component"))
  }

  /** Cluster-aware near-dedup: keep exactly ONE doc (the min-id member)
    * per connected component of the dup-pair graph. */
  def keepCanonicalPerComponent(df: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    val labels = componentLabels(df.select(col(idCol)), idCol, pairs)
      .filter(col(idCol) =!= col("component"))
    df.join(labels.select(col(idCol)), Seq(idCol), "left_anti")
  }

  // --------------------------------------------------------------- simhash
  /** 64-bit SimHash over word tokens (Charikar '02): per-bit vote =
    * Σ_token (bit ? 1 : −1), fingerprint bit = vote > 0. One tight UDF
    * pass (the 64-aggregate expression formulation blows the codegen
    * budget the same way minhash did). */
  def simhash(text: Column): Column = {
    val u = udf { (t: String) =>
      if (t == null) 0L
      else {
        val toks = t.trim.toLowerCase.split("\\s+")
        val votes = new Array[Int](64)
        toks.foreach { s =>
          val h = splitmix64(s.hashCode.toLong ^ 0x5851F42D4C957F2DL)
          var b = 0
          while (b < 64) {
            if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
            b += 1
          }
        }
        var fp = 0L
        var b = 0
        while (b < 64) { if (votes(b) > 0) fp |= (1L << b); b += 1 }
        fp
      }
    }
    u(text)
  }

  /** SimHash near-dup candidate pairs with hamming distance ≤ maxHamming,
    * blocked by the pigeonhole principle: split the 64-bit fingerprint
    * into maxHamming+1 chunks — any pair within distance shares ≥1 exact
    * chunk → equi-join per chunk, then exact popcount verify. */
  def simhashDupPairs(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3): DataFrame = {
    // maxHamming=0 would make the single chunk mask (1L<<64)-1 == 0 and
    // collapse every fingerprint into one bucket (a full O(n²) self-join);
    // exact-match dedup belongs to the fingerprint path, not simhash
    require(maxHamming >= 1 && maxHamming <= 63,
      "simhash maxHamming must be in [1, 63]")
    val nChunks = maxHamming + 1
    // Balanced partition of the 64 bits into EXACTLY nChunks non-empty
    // chunks (floor/ceil widths): lo = c*64/nChunks. Ceil-sized chunks
    // would exhaust the bits early once (nChunks-1)*ceil(64/nChunks) >= 64
    // (maxHamming >= 8), leaving fewer than nChunks real chunks and
    // silently voiding the pigeonhole guarantee.
    // simhash is CPU-bound per row: floor the scan parallelism (r14)
    val withFp = Par.fanText(df, col(idCol))
      .select(col(idCol).cast("long").as("id"),
        simhash(col(textCol)).as("fp"))
    val chunked = withFp.select(col("id"), col("fp"),
      posexplode(array((0 until nChunks).map { c =>
        val lo = c * 64 / nChunks
        val width = (c + 1) * 64 / nChunks - lo
        assert(lo < 64 && width >= 1, s"bad simhash chunk: lo=$lo width=$width")
        shiftrightunsigned(col("fp"), lo)
          .bitwiseAND(lit(if (width >= 64) -1L else (1L << width) - 1))
      }: _*)).as(Seq("chunk", "key")))
    chunked.as("l").join(chunked.as("r"),
        col("l.chunk") === col("r.chunk") && col("l.key") === col("r.key") &&
          col("l.id") < col("r.id"))
      .select(col("l.id").as("a"), col("r.id").as("b"),
        col("l.fp").as("fpa"), col("r.fp").as("fpb"))
      .dropDuplicates("a", "b")
      .withColumn("hamming", bit_count(col("fpa").bitwiseXOR(col("fpb"))))
      .filter(col("hamming") <= maxHamming)
      .select("a", "b", "hamming")
  }

  // ------------------------------------------------------ n-gram jaccard
  /** Word-set Jaccard similarity join within a blocking key — the
    * oracle-checkable member of the family. Two physical strategies with
    * identical semantics; pick by data shape:
    *
    *  - [[jaccardSimilarityJoin]] (default): block-equi-join of sorted
    *    distinct token arrays + merge-intersection kernel. O(pairs ×
    *    tokens) with zero per-pair allocation; the right shape when
    *    blocks are bounded (≤ ~10⁴ docs) and vocabulary is dense so most
    *    pairs overlap anyway.
    *  - [[jaccardSimilarityJoinPostings]]: inverted-index join — explode
    *    to (token, id), self-join on (block, token), count shared tokens;
    *    |A∪B| = |A|+|B|−|A∩B|. Join output is O(Σ posting²), so it wins
    *    only when vocabulary is large/sparse (web corpora) where posting
    *    lists are short and most pairs share nothing. Hot tokens are the
    *    skew risk — df-cap or salt upstream. */
  /** sorted distinct 64-bit token hashes in one JVM pass. The column
    * formulation (`transform`+`xxhash64`+`array_distinct`+`array_sort`)
    * is a higher-order-function chain Catalyst cannot codegen — it ran
    * interpreted and alone dominated the jaccard family (~6 ms/row).
    * Chained splitmix64 over the token's chars gives full 64-bit
    * entropy (String.hashCode's 32 bits would collide at web-corpus
    * vocabulary sizes); set equality under hashing is exact modulo
    * 64-bit collisions (~1e-16 per pair), same contract as before. */
  private[operators] def tokenHash(s: String): Long = {
    var h = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < s.length) { h = splitmix64(h ^ s.charAt(i).toLong); i += 1 }
    h
  }

  private[graft] def sortedTokenHashes(text: Column): Column = {
    val u = udf { (t: String) =>
      if (t == null) Array.empty[Long]
      else {
        val toks = t.trim.toLowerCase(java.util.Locale.ROOT).split("\\s+")
        val seen = new java.util.HashSet[Long]()
        val out = new Array[Long](toks.length)
        var m = 0
        var i = 0
        while (i < toks.length) {
          val h = tokenHash(toks(i))
          if (seen.add(h)) { out(m) = h; m += 1 }
          i += 1
        }
        val res = java.util.Arrays.copyOf(out, m)
        java.util.Arrays.sort(res)
        res
      }
    }
    u(text)
  }

  def jaccardSimilarityJoin(df: DataFrame, idCol: String, textCol: String,
      blockCol: String, threshold: Double): DataFrame = {
    // tokens → sorted distinct 64-bit hashes: the join then carries
    // compact long arrays (not string payloads) and the jaccard kernel is
    // a zero-boxing codegen'd merge-intersection.
    val t = df.select(col(idCol).cast("long").as("id"),
      col(blockCol).as("block"),
      sortedTokenHashes(col(textCol)).as("toks"))
    t.as("l").join(t.as("r"),
        col("l.block") === col("r.block") && col("l.id") < col("r.id"))
      .select(col("l.id").as("a"), col("r.id").as("b"),
        graft.functions.ArrayFunctions
          .sorted_array_jaccard(col("l.toks"), col("r.toks")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** inverted-index variant (see above) */
  def jaccardSimilarityJoinPostings(df: DataFrame, idCol: String, textCol: String,
      blockCol: String, threshold: Double): DataFrame = {
    val t = df.select(col(idCol).cast("long").as("id"),
      col(blockCol).as("block"),
      sortedTokenHashes(col(textCol)).as("toks"))
      .withColumn("n", size(col("toks")))
    val posting = t.select(col("id"), col("block"), col("n"),
      explode(col("toks")).as("tok"))
    val inter = posting.as("l").join(posting.as("r"),
        col("l.block") === col("r.block") && col("l.tok") === col("r.tok") &&
          col("l.id") < col("r.id"))
      .groupBy(col("l.id").as("a"), col("r.id").as("b"))
      .agg(count(lit(1)).as("inter"),
        first(col("l.n")).as("na"), first(col("r.n")).as("nb"))
    inter.select(col("a"), col("b"),
        (col("inter").cast("double") /
          (col("na") + col("nb") - col("inter"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** AllPairs/PPJoin-style prefix-filtered exact Jaccard join: under a
    * global (df asc, token) order, any pair with J ≥ t must share a token
    * within each side's first `n − ceil(t·n) + 1` tokens (Bayardo et al.
    * '07), so only those prefix tokens feed the candidate equi-join —
    * posting lists shrink ~10× at t=0.9 and candidates quadratically so —
    * then candidates verify exactly on the full sorted hash arrays.
    * Identical output to [[jaccardSimilarityJoin]]; this is the
    * corpus-scale shape (fine-grained join keys, rare-first prefixes, no
    * block-quadratic groups). */
  // multi-consumer relations (tokenized docs, minhash signatures) are
  // cached because three joins read them; repeated calls would accumulate
  // dead cache entries for the session's lifetime, so each call retires
  // the previous call's entry — at most one lives per slot
  private[graft] final class CacheSlot {
    @transient private var prev: DataFrame = _
    /** Cache `df` in this slot, retiring the previous entry — UNLESS the
      * previous entry is plan-equivalent and still cached, in which case
      * it is returned as-is. The order matters twice over (r15, ADVICE
      * r14): Dataset.unpersist removes cache entries by PLAN EQUIVALENCE,
      * not Dataset identity, so retire-then-cache on a sameResult plan
      * would evict the entry just registered (the r14 bug: the
      * single-tokenize cache silently stopped applying from the second
      * same-corpus call onward); and cache-then-skip-retire re-registers
      * a live entry, spamming "Asked to cache already cached data" warns.
      * The storageLevel probe covers the bench's clearCache() between
      * gates — a cleared entry must re-cache, not be trusted. */
    def cached(df: DataFrame): DataFrame = synchronized {
      if (prev != null &&
          prev.queryExecution.analyzed.sameResult(df.queryExecution.analyzed) &&
          prev.storageLevel != org.apache.spark.storage.StorageLevel.NONE)
        prev
      else {
        if (prev != null) prev.unpersist()
        df.cache()
        prev = df
        df
      }
    }
    /** test hook: the one live entry (null before the first cached) */
    def current: DataFrame = synchronized(prev)
  }
  private[graft] val prefixCacheSlot = new CacheSlot
  private[graft] val sigCacheSlot = new CacheSlot
  // the rare-first prefix relation feeds BOTH sides of the candidate
  // self-join; uncached, each side re-runs the posting⋈df join and the
  // per-doc collect_list/sort shuffle from the cached tokens (the
  // exchanges don't canonicalize equal, so ReuseExchange can't help) —
  // r14: cache it, one compute instead of two
  private[graft] val prefixRelCacheSlot = new CacheSlot
  private def trackPrefixCache(df: DataFrame): DataFrame =
    prefixCacheSlot.cached(df)

  def jaccardSimilarityJoinPrefix(df0: DataFrame, idCol: String, textCol: String,
      blockCol: String, threshold: Double): DataFrame = {
    // tokenize is CPU-bound per row: floor the scan parallelism before
    // the UDF projection (r14, Par scaladoc)
    val df = Par.fanText(df0, col(idCol))
    val t = trackPrefixCache(df.select(col(idCol).cast("long").as("id"),
      col(blockCol).as("block"),
      sortedTokenHashes(col(textCol)).as("toks"))
      .withColumn("n", size(col("toks")))
      ) // tokenized once; feeds postings, prefixes and the verify
    val posting = t.select(col("id"), col("block"), col("n"),
      explode(col("toks")).as("tok"))
    val dfc = posting.groupBy("tok").agg(count(lit(1)).as("df"))
    // rare-first prefix: order each doc's tokens by (global df, token),
    // keep the first n − ceil(t·n) + 1
    val prefix = prefixRelCacheSlot.cached(posting.join(dfc, "tok")
      .groupBy("id", "block", "n")
      .agg(array_sort(collect_list(struct(col("df"), col("tok")))).as("ord"))
      .select(col("id"), col("block"), col("n"),
        explode(slice(transform(col("ord"), x => x("tok")), lit(1),
          (col("n") - ceil(col("n") * lit(threshold)) + 1).cast("int"))).as("tok")))
    // size-ratio filter: J ≥ t ⇒ min(|A|,|B|) ≥ t·max(|A|,|B|) — prunes
    // length-mismatched collisions before they reach the verify join
    val cand = prefix.as("l").join(prefix.as("r"),
        col("l.block") === col("r.block") && col("l.tok") === col("r.tok") &&
          col("l.id") < col("r.id") &&
          col("l.n") >= col("r.n") * lit(threshold) &&
          col("r.n") >= col("l.n") * lit(threshold))
      .select(col("l.id").as("a"), col("r.id").as("b"))
      .dropDuplicates("a", "b")
    cand
      .join(t.select(col("id").as("a"), col("toks").as("ta")), Seq("a"))
      .join(t.select(col("id").as("b"), col("toks").as("tb")), Seq("b"))
      .select(col("a"), col("b"),
        graft.functions.ArrayFunctions
          .sorted_array_jaccard(col("ta"), col("tb")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  // ------------------------------------------ cross-document span overlap
  /** Cross-document duplicated-span statistics — the word-span tier of
    * exact substring dedup (Lee et al. 2022, arXiv:2107.06499: training
    * spans repeated across documents hurt LMs; the suffix-array pass there
    * is approximated here by fixed-length span fingerprints, the standard
    * scalable relaxation). For every document: how many of its distinct
    * `n`-token spans occur in at least one OTHER document, and the
    * fraction of spans so shared.
    *
    * Shape: explode per-doc distinct spans → groupBy(span) count (rows ==
    * distinct docs because spans are pre-deduped per doc) → semi-ish left
    * join back → per-doc aggregate. Two shuffles on the span key + one on
    * doc_id, all equi — the same inverted-index discipline as
    * decontamination; no pairwise blow-up, so it survives 100 TB. Docs
    * shorter than `n` tokens keep a row with zero spans.
    *
    * `hashSpans=true` ships 8-byte xxhash64 fingerprints through both
    * shuffles instead of span strings — the wide-corpus configuration
    * (collision odds ~n²/2⁶⁴); `false` keeps raw strings so an external
    * SQL engine can replay the computation exactly. */
  def crossDocSpanStats(df: DataFrame, idCol: String, textCol: String,
      n: Int, hashSpans: Boolean = false): DataFrame = {
    // no scan-parallelism floor (r15): the r14 fanText regressed
    // dedup_span_stats on the driver's 32-core contract run — the span
    // explode is bytes-tracked work the scan splits handle correctly
    val raw = df
      .select(col(idCol).cast("long").as("doc_id"),
        explode_outer(shingles(col(textCol), n)).as("span"))
    // xxhash64(NULL) yields the seed, not NULL — preserve the null marker
    // rows from explode_outer (docs shorter than n) explicitly, or every
    // span-less doc would share one phantom span
    val spans = if (!hashSpans) raw
      else raw.withColumn("span",
        when(col("span").isNotNull, xxhash64(col("span"))))
    val shared = spans.filter(col("span").isNotNull)
      .groupBy("span").agg(count(lit(1)).as("ndocs"))
      .filter(col("ndocs") >= 2)
    spans.join(shared, Seq("span"), "left")
      .groupBy("doc_id")
      .agg(
        sum(when(col("span").isNotNull, 1L).otherwise(0L)).as("n_spans"),
        sum(when(col("ndocs").isNotNull, 1L).otherwise(0L))
          .as("n_shared_spans"))
      .withColumn("shared_span_frac",
        when(col("n_spans") === 0, lit(0.0)).otherwise(
          round(col("n_shared_spans").cast("double") / col("n_spans"), 6)))
  }

  // ------------------------------------------- embedding cosine near-dup
  /** Embedding near-dup candidate pairs scored by exact cosine, with
    * candidates from sign-random-projection LSH buckets — an equi-join on
    * (table, key), never an all-pairs theta join. The bucket shuffle
    * carries slim (id, key) rows; vectors attach only after the candidate
    * pairs are deduped. Recall is tunable: per-pair miss probability is
    * (1 − (1 − θ/π)^hashSize)^numTables — the 32×3 default keeps it below
    * ~4e-5 even for merely-similar pairs (cosine ≈ 0.45), so at gate
    * scales the candidate set contains every near-dup pair (verified:
    * reproduces the exact all-pairs top-20 at sf0.01 and sf0.1). */
  def embeddingDupPairsCandidates(df: DataFrame, idCol: String, vecCol: String,
      numTables: Int = 32, hashSize: Int = 3, seed: Long = 42): DataFrame = {
    val base = df.select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
    val dim = LshModel.dimOf(base, "v")
    val model = LshModel(numTables, hashSize, dim, 4.0, "cosine", seed)
    val hashUdf = model.hashUdf(df.sparkSession)
    val keys = base
      .withColumn("__keys", hashUdf(col("v")))
      .select(col("id"), posexplode(col("__keys")).as(Seq("table", "key")))
    val cand = keys.as("l").join(keys.as("r"),
        col("l.table") === col("r.table") && col("l.key") === col("r.key") &&
          col("l.id") < col("r.id"))
      .select(col("l.id").as("a"), col("r.id").as("b"))
      .dropDuplicates("a", "b")
    val sim = lit(1.0) - graft.functions.VectorFunctions
      .cosine_dist(col("va"), col("vb"))
    cand
      .join(base.select(col("id").as("a"), col("v").as("va")), Seq("a"))
      .join(base.select(col("id").as("b"), col("v").as("vb")), Seq("b"))
      .select(col("a"), col("b"), sim.as("cosine"))
  }

  /** SemDeDup-style semantic near-dup pairs (Abbas et al. '23,
    * arXiv:2303.09540 — the k-means-blocked semantic dedup run on
    * web-scale corpora): a seeded k-means partitions the embedding
    * space, and only WITHIN-cluster pairs are scored for cosine
    * similarity ≥ `threshold`. Complements [[embeddingDupPairs]]'s
    * sign-LSH blocking: k-means cells adapt to the corpus's actual
    * density (semantic duplicates share a cell with high probability),
    * while hyperplane buckets are data-oblivious.
    *
    * Scale shape: centroids train on a bounded driver sample
    * ([[IvfModel.train]], FAISS's own discipline), assignment is one
    * broadcast-centroids map pass (no shuffle), and candidates arrive
    * via the cluster-id equi-join — work is Σ_c |c|², bounded by the
    * blocking, never the corpus-wide n². Approximate by construction:
    * a true pair straddling a cell boundary is missed (the paper
    * accepts exactly this); [[embeddingDupPairsExact]] is the oracle.
    *
    * `maxClusterSize` (opt-in; default uncapped = the paper's exact
    * semantics, and the gate's pinned-oracle config): the within-cluster
    * join is quadratic in the LARGEST cluster, so one degenerate cell —
    * a boilerplate blob, an all-zeros embedding bug — can turn the
    * Σ|c|² bound into a single n²-ish hot task at corpus scale. Above
    * the cap, a cluster of size s stratifies deterministically
    * (seeded id hash) into ceil(s / cap) sub-blocks compared only
    * within themselves: worst-case work drops s² → ~s²/nsub at the cost
    * of missing cross-block pairs inside that cluster — the same
    * accept-the-miss trade the cell boundary already makes.
    * Output: (a, b, cluster, cosine) with a < b. */
  def semanticDupPairs(df: DataFrame, idCol: String, vecCol: String,
      numClusters: Int, threshold: Double, seed: Long = 42,
      maxClusterSize: Int = Int.MaxValue): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val base = df.select(col(idCol).cast("long").as("id"),
      col(vecCol).as("vector"))
    val centers = IvfModel.train(base, numClusters, seed)
    val assigned = base.as[(Long, Array[Float])]
      .mapPartitions(_.map { case (i, v) => (i, v, IvfModel.assign(centers, v)) })
      .toDF("id", "v", "cl")
    val (blocked, blockKeys) =
      if (maxClusterSize == Int.MaxValue) (assigned, Seq("cl"))
      else {
        // per-cluster sizes are numClusters rows — broadcast; the strata
        // key is a pure function of (id, seed, cluster size), so the
        // blocking is partition-layout/retry invariant like every other
        // dedup key in this module
        val sizes = assigned.groupBy("cl").agg(count(lit(1)).as("__n"))
        val b = assigned.join(broadcast(sizes), "cl")
          .withColumn("__nsub",
            ceil(col("__n").cast("double") / maxClusterSize).cast("long"))
          .withColumn("sub", pmod(xxhash64(col("id"), lit(seed)), col("__nsub")))
          .drop("__n", "__nsub")
        (b, Seq("cl", "sub"))
      }
    blocked.as("l").join(blocked.as("r"),
        blockKeys.map(k => col(s"l.$k") === col(s"r.$k"))
          .reduce(_ && _) && col("l.id") < col("r.id"))
      .select(col("l.id").as("a"), col("r.id").as("b"),
        col("l.cl").as("cluster"),
        (lit(1.0) - graft.functions.VectorFunctions
          .cosine_dist(col("l.v"), col("r.v"))).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** retention policy over [[semanticDupPairs]]: drop every embedding
    * with a more-canonical (smaller-id) semantic duplicate */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
      numClusters: Int, threshold: Double, seed: Long = 42): DataFrame =
    dropNearDups(df, idCol,
      semanticDupPairs(df, idCol, vecCol, numClusters, threshold, seed))

  /** Exact all-pairs embedding near-dup: O(n²) theta join scoring every
    * pair. The ground-truth/small-N path (≲10⁵ rows) and the oracle the
    * approximate variant is validated against; at corpus scale use
    * [[embeddingDupPairs]]. */
  def embeddingDupPairsExact(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double): DataFrame = {
    val base = df.select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
    base.as("l").join(base.as("r"), col("l.id") < col("r.id"))
      .select(col("l.id").as("a"), col("r.id").as("b"),
        (lit(1.0) - graft.functions.VectorFunctions
          .cosine_dist(col("l.v"), col("r.v"))).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** Smallest hashSize whose per-pair miss probability at similarity
    * `threshold` stays under `missProb` across `numTables` tables —
    * maximal pruning subject to the recall target. Per-table collision
    * for a pair at angle θ is (1 − θ/π)^h (sign-random-projection), so
    * miss = (1 − p)^T; solve for h and clamp to [2, 24]. */
  private[graft] def lshHashSizeFor(threshold: Double, numTables: Int,
      missProb: Double = 1e-3): Int = {
    val theta = math.acos(math.max(-1.0, math.min(1.0, threshold)))
    val collinear = 1.0 - theta / math.Pi // per-plane agreement prob
    if (collinear >= 1.0) 24
    else {
      val pMin = 1.0 - math.pow(missProb, 1.0 / numTables)
      val h = math.floor(math.log(pMin) / math.log(collinear)).toInt
      // h < 1 means even single-plane tables can't hit the missProb
      // target (low threshold / few tables): fall back to h=1 — the
      // least-pruning, minimal-miss bucketing — instead of silently
      // clamping up to 2 and doubling the miss rate. In that regime the
      // guarantee degrades to miss = (1 − (1 − θ/π))^T, the best any
      // bucketing can do; callers needing the strict missProb bound at
      // low thresholds must raise numTables (or use the exact path)
      math.max(1, math.min(24, h))
    }
  }

  /** Embedding near-dup pairs: cosine similarity ≥ threshold.
    *
    * APPROXIMATE (documented contract): candidates come from seeded
    * (`seed`, default 42) sign-random-projection LSH buckets, so a true
    * pair at exactly `threshold` is missed with probability ≤ `missProb`
    * (default 1e-3); more-similar pairs are missed exponentially more
    * rarely. hashSize is derived from the caller's threshold via
    * [[lshHashSizeFor]] so blocking actually prunes at the requested
    * similarity (e.g. t=0.9, 32 tables → h=10: a random pair survives
    * with prob ~32/2¹⁰ ≈ 3%, vs ~99% at the recall-generous candidate
    * default). The bound holds whenever the solved hash size is ≥ 1;
    * for low thresholds with few tables (where even h=1 cannot reach
    * `missProb`) the realized miss is the h=1 minimum
    * (1 − (1 − θ/π))^numTables — raise `numTables` or use the exact
    * path when a strict bound matters there.
    * Exact semantics: [[embeddingDupPairsExact]]. */
  def embeddingDupPairs(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, numTables: Int = 32, missProb: Double = 1e-3,
      seed: Long = 42): DataFrame =
    embeddingDupPairsCandidates(df, idCol, vecCol, numTables,
        lshHashSizeFor(threshold, numTables, missProb), seed)
      .filter(col("cosine") >= threshold)

  // ---------------------------------------------------- winnowing (MOSS)
  /** Winnowing fingerprint set (Schleimer–Wilkerson–Aiken, SIGMOD 2003 —
    * the MOSS algorithm): hash every word n-gram in POSITION order, then
    * every window of `w` consecutive gram hashes selects its minimum;
    * the distinct selected values are the document's fingerprints
    * (sorted ascending). Guarantee: two documents sharing a verbatim
    * token run of length ≥ w + n − 1 share at least one fingerprint —
    * unlike MinHash (a whole-document similarity sketch), winnowing
    * detects bounded-length exact overlap with certainty, at a sample
    * rate of ~2/(w+1) of all grams. Tie-breaks can't change the value
    * SET (only which position is credited), so no rightmost-min rule is
    * needed. Docs with fewer than w grams yield the min over all grams;
    * fewer than n tokens → empty. Same token/gram hash chain as
    * [[shingleHashes]]; minimum is UNSIGNED 64-bit order (what an
    * oracle computing over non-negative 64-bit values sees). One tight
    * JVM pass per row — shuffle-free, embarrassingly parallel. */
  def winnowFingerprints(text: Column, n: Int, w: Int): Column = {
    val u = udf { (t: String) => winnowArray(t, n, w) }
    u(text)
  }

  private[graft] def winnowArray(t: String, n: Int, w: Int)
      : Array[Long] = {
    if (t == null) return Array.empty
    val toks = t.trim.toLowerCase.split("\\s+")
    if (toks.length < n) return Array.empty
    val m = toks.length - n + 1
    val tokHash = new Array[Long](toks.length)
    var i = 0
    while (i < toks.length) {
      tokHash(i) = splitmix64(toks(i).hashCode.toLong ^ 0x5851F42D4C957F2DL)
      i += 1
    }
    val h = new Array[Long](m)
    i = 0
    while (i < m) {
      var acc = 0x2545F4914F6CDD1DL
      var j = 0
      while (j < n) { acc = splitmix64(acc ^ tokHash(i + j)); j += 1 }
      h(i) = acc
      i += 1
    }
    val seen = new java.util.HashSet[Long]()
    // monotonic deque (indices, strictly increasing hash) → O(m) mins
    val dq = new Array[Int](m)
    var head = 0
    var tail = 0
    i = 0
    while (i < m) {
      while (tail > head &&
          java.lang.Long.compareUnsigned(h(dq(tail - 1)), h(i)) >= 0)
        tail -= 1
      dq(tail) = i; tail += 1
      if (dq(head) <= i - w) head += 1
      if (i >= w - 1) seen.add(h(dq(head)))
      i += 1
    }
    if (m < w) seen.add(h(dq(head))) // short doc: one window over all
    val out = new Array[Long](seen.size)
    val it = seen.iterator()
    i = 0
    while (it.hasNext) { out(i) = it.next(); i += 1 }
    java.util.Arrays.sort(out)
    out
  }

  /** Document pairs sharing ≥ `minShared` winnowing fingerprints, with
    * the shared count — the MOSS overlap report, as a corpus-scale plan:
    * explode fingerprints → drop fingerprints with document frequency
    * above `dfCap` (boilerplate carries no pair signal, and the cap
    * bounds join fan-out at dfCap²/2 pair rows per fingerprint — the
    * same reason MOSS itself ignores over-common fingerprints) → self
    * equi-join on fingerprint → count per pair. The hot-fingerprint set
    * is tiny by construction (≤ |fps|/dfCap entries), hence broadcast
    * for the anti-join. */
  private[graft] val winnowCacheSlot = new CacheSlot

  def winnowDupPairs(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 4, w: Int = 4, minShared: Int = 2, dfCap: Int = 128)
      : DataFrame = {
    // cached: three consumers (hot-fp agg, join side a, join side b)
    // would otherwise re-run the fingerprint UDF over the corpus each —
    // same retire-previous discipline as the minhash signature cache
    val fps = winnowCacheSlot.cached(docs
      .select(col(idCol).as("doc_id"),
        explode(winnowFingerprints(col(textCol), n, w)).as("fp")))
    val hot = fps.groupBy("fp").agg(count(lit(1)).as("df"))
      .filter(col("df") > dfCap).select("fp")
    val kept = fps.join(broadcast(hot), Seq("fp"), "left_anti")
    kept.select(col("fp"), col("doc_id").as("id_a"))
      .join(kept.select(col("fp"), col("doc_id").as("id_b")), "fp")
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }
}
