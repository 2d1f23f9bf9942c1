package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data export operators: deterministic dataset splits and
  * shuffled shard layout — the last mile of a corpus pipeline, where the
  * cleaned/deduped corpus leaves the engine as train/eval splits of
  * shuffled, file-sized shards.
  *
  * Both operators key every decision off `md5(id:seed)` rather than any
  * RNG: the assignment is a pure per-row expression (map-side, no state,
  * no sampling pass), reproducible across engines — which is also what
  * makes the DuckDB oracles EXACT (both engines render the same hex for
  * the same key), unlike the seeded-RNG sampling family whose rows are
  * `no_oracle` by contract.
  */
object Export {

  private def hexKey(idCol: String, seed: Long) =
    md5(concat(col(idCol).cast("string"), lit(s":$seed")))

  /** Deterministic split assignment: each row gets a `split` label with
    * the given fractions, decided by its id's keyed hash bucket —
    * stable under corpus growth (a doc keeps its split when new docs
    * arrive, the property that keeps eval sets eval), independent of
    * row order and partitioning, and exactly reproducible anywhere md5
    * exists. Fractions are quantized to 1/256 (the first hex byte of
    * the hash): train/eval boundaries move in 0.4% steps, which is the
    * documented contract — a split is an operational boundary, not a
    * statistical estimate.
    */
  def splitByHash(df: DataFrame, idCol: String,
                  fractions: Seq[(String, Double)],
                  seed: Long = 42L): DataFrame = {
    require(fractions.nonEmpty && math.abs(fractions.map(_._2).sum - 1.0) < 1e-9,
      s"split fractions must sum to 1, got $fractions")
    val bucket = conv(substring(hexKey(idCol, seed), 1, 2), 16, 10).cast("int")
    val bounds = fractions.scanLeft(0.0)(_ + _._2).tail
      .map(f => math.round(f * 256).toInt)
    val label = fractions.init.zip(bounds.init)
      .foldRight(lit(fractions.last._1): org.apache.spark.sql.Column) {
        case (((name, _), b), rest) => when(bucket < b, lit(name)).otherwise(rest)
      }
    df.withColumn("split", label)
  }

  /** LEAKAGE-SAFE split: [[splitByHash]] keyed by each row's near-dup
    * COMPONENT representative instead of its own id, so every member of
    * a duplicate cluster lands in the SAME split — the assignment that
    * keeps a train document's near-copy out of eval (hash-splitting raw
    * ids leaks: a cluster of k near-dups crosses the train/eval boundary
    * with probability ≈ 1-(0.8^k + 0.1^k + 0.1^k)). `pairs` is any
    * (d1, d2) near-dup pair frame (exact, MinHash-LSH, embedding —
    * whatever the corpus's dedup pass already computed); singletons are
    * their own representative, so their assignment EQUALS the plain
    * [[splitByHash]] of their id. Deterministic and growth-stable like
    * the plain form — as long as a component's min-id member stays in
    * the corpus, its split never moves.
    *
    * Scale shape: the component labels are star contraction
    * ([[Dedup.connectedComponentsStar]], O(log² n) rounds whatever the
    * component diameter), one equi join back to the corpus, then the
    * map-side hash label — no new shuffle class.
    */
  def splitByComponents(df: DataFrame, idCol: String, pairs: DataFrame,
                        fractions: Seq[(String, Double)],
                        seed: Long = 42L): DataFrame = {
    // loud type guard BEFORE the long-cast join below: a string-keyed
    // corpus would null-cast and silently drop every row at the equi
    // join (connectedComponentsStar requires integral ids anyway — fail
    // here with this operator's name)
    Dedup.requireIntegralId(df, idCol, "splitByComponents")
    val comp = Dedup.connectedComponentsStar(df.select(col(idCol)), idCol, pairs)
      .select(col("id").as("__cid"), col("rep_id").as("__rep"))
    val joined = df.join(comp, df(idCol).cast("long") === col("__cid"))
    splitByHash(joined, "__rep", fractions, seed).drop("__cid", "__rep")
  }

  /** Materialize a shuffled-shard layout as JSONL shard files — the
    * wire format training corpora actually ship in: one directory per
    * call, one `part-*` JSON-lines file per shard (Hive-partitioned by
    * `shard`), rows within a file in the deterministic hash order
    * [[shuffleShards]] assigns. The write is fully distributed (one
    * task per shard after the in-partition sort); re-reading with
    * `spark.read.json` restores the exact rows — the round trip is the
    * catalog row's oracle.
    */
  def writeJsonlShards(df: DataFrame, idCol: String, nShards: Int,
                       path: String, seed: Long = 42L): Unit =
    shuffleShards(df, idCol, nShards, seed)
      .repartition(nShards, col("shard"))
      .sortWithinPartitions(col("shard"), col("pos"))
      .write.mode("overwrite")
      .partitionBy("shard")
      .json(path)

  /** Shuffled shard layout: assigns every row a `shard` in [0, nShards)
    * and a `pos` within its shard, both from the keyed hash — a
    * deterministic global shuffle. Scale shape: shard assignment is
    * map-side; the per-shard ordering is exactly the shard WRITER's
    * local sort (one output file per shard, sorted by hash = random
    * order w.r.t. any content attribute), so `nShards` should be chosen
    * to make shards file-sized (10⁴–10⁵ at 100 TB) — the window below
    * then has one partition per output file, the parallelism the write
    * itself has.
    */
  def shuffleShards(df: DataFrame, idCol: String, nShards: Int,
                    seed: Long = 42L): DataFrame = {
    require(nShards >= 1, s"nShards must be >= 1, got $nShards")
    val h = hexKey(idCol, seed)
    val withShard = df
      .withColumn("__hx", h)
      .withColumn("shard",
        pmod(conv(substring(col("__hx"), 1, 6), 16, 10).cast("long"), lit(nShards)))
    withShard
      .withColumn("pos",
        row_number().over(
          Window.partitionBy(col("shard")).orderBy(col("__hx"), col(idCol))).cast("long"))
      .drop("__hx")
  }
}
