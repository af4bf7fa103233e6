package graft.index

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row}
import org.apache.spark.sql.functions.{col, count, lit, size, sum}

import graft.model.{CorpusStats, NumberedTurn, Turn}

/** Dense stable docID assignment (SURVEY.md §2 row 4).
  *
  * doc_id = 0-based rank of (conv_id, turn_idx) under lexicographic order —
  * the "stable turn ordering" invariant of the north star. RDD-free,
  * persist-free, deterministic across executions, and pure Column DSL:
  *
  *   1. collect explicit range boundaries from a fixed-seed key sample
  *      (a driver-side array of ≤ 32·P keys — O(P), not O(N));
  *   2. `__part` = count of boundaries ≤ key, as a codegen'd Column
  *      expression of scalar lexicographic comparison chains — a PURE
  *      FUNCTION of row content, so every pass computes the identical
  *      assignment with no cross-job coordination;
  *   3. per-part counts → driver prefix sums (a P-row aggregate);
  *   4. hash-repartition on `__part` (never splits a part; balanced by
  *      boundary construction), partition-local sort, one streaming zip
  *      pass from the part's offset. (A row_number window over `__part`
  *      computes the same thing but WindowExec buffers each whole part
  *      group — measured slower at 16M rows.)
  *
  * Why not `repartitionByRange` + persist (the round-1 design): Spark's
  * RangePartitioner seeds its reservoir sample with the RDD id, so two
  * executions of the same plan can draw different boundaries — the count
  * pass and the zip pass only agreed while the sorted corpus stayed
  * persisted, and that cache was never safely releasable (the returned
  * Dataset is lazy; callers act on it after assign returns). Content-based
  * partition assignment removes the coordination problem instead of caching
  * around it: no persisted blocks, and re-executions (including Verify's
  * write actions and resumed builds) are stable by construction.
  *
  * Scale: a count (Parquet answers it from footer metadata), a key-pruned
  * histogram scan, and the windowed pass with ONE hash exchange on the
  * uniform `__part` key. This is NOT the single-partition global-window
  * anti-pattern: the window partitions by `__part`, so parallelism = P.
  */
object DocIds {

  /** Compare two key tuples (nulls first, matching Spark asc_nulls_first). */
  private def compareKeys(a: Array[Any], b: Array[Any]): Int = {
    var i = 0
    while (i < a.length) {
      val c = (a(i), b(i)) match {
        case (null, null) => 0
        case (null, _) => -1
        case (_, null) => 1
        case (x: String, y: String) => x.compareTo(y)
        case (x: java.lang.Integer, y: java.lang.Integer) => x.compareTo(y)
        case (x: java.lang.Long, y: java.lang.Long) => x.compareTo(y)
        case (x: java.lang.Double, y: java.lang.Double) => x.compareTo(y)
        case (x: java.lang.Float, y: java.lang.Float) => x.compareTo(y)
        case (x: java.lang.Short, y: java.lang.Short) => x.compareTo(y)
        case (x: java.lang.Byte, y: java.lang.Byte) => x.compareTo(y)
        case (x: java.lang.Boolean, y: java.lang.Boolean) => x.compareTo(y)
        case (x: java.sql.Timestamp, y: java.sql.Timestamp) => x.compareTo(y)
        case (x: java.sql.Date, y: java.sql.Date) => x.compareTo(y)
        case (x: java.math.BigDecimal, y: java.math.BigDecimal) => x.compareTo(y)
        case (x, y) =>
          throw new IllegalArgumentException(
            s"unsupported sort-key type: ${x.getClass} vs ${y.getClass}")
      }
      if (c != 0) return c
      i += 1
    }
    0
  }

  /** Explicit deterministic range boundaries from a fixed-seed sample:
    * ≤ numPartitions−1 keys splitting the key space into balanced parts.
    */
  private def sampleBoundaries(df: DataFrame, sortCols: Seq[String],
      numPartitions: Int, totalRows: Long): Array[Array[Any]] = {
    if (totalRows == 0 || numPartitions <= 1) return Array.empty
    val target = numPartitions * 32L
    val fraction = math.min(1.0, target.toDouble / totalRows)
    val sampled = df.select(sortCols.map(col): _*)
      .sample(withReplacement = false, fraction, seed = 42L)
      .collect()
      .map(r => Array.tabulate[Any](r.length)(r.get))
      .sortWith(compareKeys(_, _) < 0)
    if (sampled.isEmpty) return Array.empty
    val step = math.max(1, sampled.length / numPartitions)
    (step until sampled.length by step)
      .take(numPartitions - 1)
      .map(sampled(_))
      .toArray
  }

  /** `__part` as a pure Column expression: the number of boundaries ≤ key.
    * Each boundary test is an explicit lexicographic chain of SCALAR
    * comparisons — `k1 > b1 OR (k1 = b1 AND (k2 > b2 OR ...))` — rather
    * than a struct comparison: `struct(cols) >= struct(lits)` allocates a
    * fresh InternalRow (copying every key, strings included) per boundary
    * per row in codegen, which measured as the dominant docid cost at 16M
    * rows × 31 boundaries. Scalar chains allocate nothing and Or/And
    * codegen short-circuits on the first column. Linear in the boundary
    * count as an expression tree; at cluster scale chunk via a coarse
    * pre-bucket if P grows to many thousands.
    */
  private def partCol(sortCols: Seq[String], bounds: Array[Array[Any]]) = {
    import org.apache.spark.sql.functions.{lit, when}
    def geq(b: Array[Any]): Column = {
      // lexicographic key >= boundary, innermost-first
      val last = sortCols.length - 1
      (0 until last).foldRight(col(sortCols(last)) >= lit(b(last))) { (i, inner) =>
        col(sortCols(i)) > lit(b(i)) || (col(sortCols(i)) === lit(b(i)) && inner)
      }
    }
    bounds.foldLeft(lit(0)) { (acc, b) => acc + when(geq(b), 1).otherwise(0) }
  }

  /** Generic dense-rank assignment: prepend `rid` = 0-based rank of the row
    * under lexicographic `sortCols` order. One exchange (hash on the
    * balanced `__part`; never splits a part), partition-local sort, and a
    * single streaming zip pass from the part's offset — no WindowExec
    * (which would buffer each whole part group in memory/spill), no
    * persisted state. Output rows are key-sorted within partitions (add an
    * `orderBy` downstream if global presentation order matters).
    */
  def denseIds(df: DataFrame, sortCols: Seq[String], numPartitions: Int): DataFrame =
    denseIdsCore(df, sortCols, numPartitions, None)._1

  /** [[assignWithStats]] + the per-part docID offsets (sentinel-terminated:
    * offsets(P) = N). The returned Dataset is the POST-EXCHANGE corpus —
    * each shuffle partition holds whole `__part` groups sorted by key, i.e.
    * whole ascending docID ranges — so a caller that persists it can run
    * cell-aligned SPIMI inversion directly on those partitions without a
    * second corpus exchange (round-4: the docid range exchange and the SPIMI
    * grid exchange collapse into ONE corpus-sized shuffle per build).
    */
  def assignWithStatsOffsets(turns: Dataset[Turn], numPartitions: Int,
      analyzer: String = "standard")
      : (Dataset[NumberedTurn], CorpusStats, Array[Long]) = {
    val spark = turns.sparkSession
    import spark.implicits._
    val (df, stats, offsets) =
      denseIdsCore(turns.toDF(), Seq("conv_id", "turn_idx"), numPartitions,
        Some("text"), analyzer)
    (df.withColumnRenamed("rid", "doc_id").as[NumberedTurn], stats.get, offsets)
  }

  /** [[denseIds]] + whole-corpus token stats computed IN the same passes —
    * no extra corpus scan: the exact per-part histogram pass additionally
    * sums per-part analyzed token counts over `textCol` (the assignment
    * already touches every row, so avgdl rides along for free; VERDICT r2
    * item 4 — the build's separate stats pass folded away). Deterministic
    * by construction (a plain aggregation, not accumulators, so task
    * retries cannot double-count).
    */
  def denseIdsWithStats(df: DataFrame, sortCols: Seq[String],
      numPartitions: Int, textCol: String): (DataFrame, CorpusStats) = {
    val (out, stats, _) = denseIdsCore(df, sortCols, numPartitions, Some(textCol))
    (out, stats.get)
  }

  private def denseIdsCore(df: DataFrame, sortCols: Seq[String],
      numPartitions: Int, textCol: Option[String],
      analyzer: String = "standard")
      : (DataFrame, Option[CorpusStats], Array[Long]) = {
    import org.apache.spark.sql.functions.lit
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val spark = df.sparkSession

    val totalRows = df.count()
    val bounds = sampleBoundaries(df, sortCols, numPartitions, totalRows)
    val part = partCol(sortCols, bounds)

    // exact per-part histogram → prefix offsets; with textCol the same scan
    // also sums analyzed token counts per part. The token path is a TYPED
    // per-partition pre-aggregation over the fast scanner — the Column
    // regex form measured ~6× slower than Analyzer.tokenize on this pass,
    // which would have cost more than the corpus read it saves. P rows out
    // per task; deterministic (plain aggregation, no accumulators).
    val numParts = bounds.length + 1
    val (counts, stats) = textCol match {
      case None =>
        val rows = df.select(part.as("__part")).groupBy(col("__part"))
          .agg(count(lit(1)).as("n")).collect()
        (rows.map(r => r.getInt(0) -> r.getLong(1)).toMap, None)
      case Some(tc) =>
        import df.sparkSession.implicits._
        val rows = df.select(part.as("__part"), col(tc))
          .as[(Int, String)]
          .mapPartitions { it =>
            val agg = new java.util.HashMap[Int, Array[Long]]()
            it.foreach { case (p, t) =>
              var a = agg.get(p)
              if (a == null) { a = new Array[Long](2); agg.put(p, a) }
              a(0) += 1
              a(1) += graft.core.Analyzer.analyze(t, analyzer).length
            }
            scala.jdk.CollectionConverters.IteratorHasAsScala(agg.entrySet().iterator())
              .asScala.map(e => (e.getKey, e.getValue()(0), e.getValue()(1)))
          }
          .toDF("__part", "n", "toks")
          .groupBy(col("__part"))
          .agg(sum(col("n")).as("n"), sum(col("toks")).as("toks"))
          .collect()
        val tot = rows.map(r => if (r.isNullAt(2)) 0L else r.getLong(2)).sum
        (rows.map(r => r.getInt(0) -> r.getLong(1)).toMap,
          Some(CorpusStats(totalRows, tot,
            if (totalRows == 0) 0.0 else tot.toDouble / totalRows)))
    }
    // offsets carry a sentinel end entry: offsets(p) = first docID of part p,
    // offsets(numParts) = totalRows — callers that sub-divide parts into
    // docID-aligned SPIMI cells (IndexBuildJob) read part spans from it
    val offsets = new Array[Long](numParts + 1)
    var acc = 0L
    var i = 0
    while (i < numParts) {
      offsets(i) = acc
      acc += counts.getOrElse(i, 0L)
      i += 1
    }
    offsets(numParts) = acc
    val bcOffsets = spark.sparkContext.broadcast(offsets)

    val outSchema = StructType(StructField("rid", LongType, nullable = false) +: df.schema.fields)
    val out = df.withColumn("__part", part)
      .repartition(numParts, col("__part"))
      .sortWithinPartitions(col("__part") +: sortCols.map(col): _*)
      .mapPartitions { it =>
        val off = bcOffsets.value
        var curPart = -1
        var id = 0L
        it.map { r =>
          val p = r.getInt(r.length - 1)
          if (p != curPart) { curPart = p; id = off(p) }
          val out = Row.fromSeq(id +: r.toSeq.dropRight(1))
          id += 1
          out
        }
      }(org.apache.spark.sql.Encoders.row(outSchema))
      .select(col("rid") +: df.columns.map(col): _*)
    (out, stats, offsets)
  }

  def assign(turns: Dataset[Turn], numPartitions: Int): Dataset[NumberedTurn] = {
    val spark = turns.sparkSession
    import spark.implicits._
    denseIds(turns.toDF(), Seq("conv_id", "turn_idx"), numPartitions)
      .withColumnRenamed("rid", "doc_id")
      .as[NumberedTurn]
  }

  /** [[assign]] + corpus stats from the same passes (avgdl for free). */
  def assignWithStats(turns: Dataset[Turn],
      numPartitions: Int): (Dataset[NumberedTurn], CorpusStats) = {
    val spark = turns.sparkSession
    import spark.implicits._
    val (df, stats) =
      denseIdsWithStats(turns.toDF(), Seq("conv_id", "turn_idx"), numPartitions, "text")
    (df.withColumnRenamed("rid", "doc_id").as[NumberedTurn], stats)
  }
}
