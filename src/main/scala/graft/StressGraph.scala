package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Synthetic-graph stress for [[graft.ext.Dedup.connectedComponents]] at
  * graph sizes the document fixtures can't reach (manual, not part of the
  * driver contract). Two shapes that bracket real dedup graphs:
  *
  *  - `cliques`: 100k duplicate clusters of 10 docs each — 4.5M edges,
  *    1M vertices, diameter 1 (the realistic near-dup shape). Converges in
  *    2 live rounds; round 1 shuffles O(E), round 2's frontier is the
  *    non-minimum clique members, round 3 proves quiescence.
  *  - `chain`: one 16-vertex path appended — diameter 16, the adversarial
  *    shape for min-propagation. The frontier after round 2 is O(1)
  *    vertices per round, so the extra ~14 rounds cost per-round job
  *    overhead plus one O(V) narrow label-map pass, not per-round edge
  *    shuffles: this is what the Pregel active-set loop buys (a
  *    full-propagation loop would re-shuffle all 4.5M edges every round;
  *    diameters far beyond this want pointer-doubling instead).
  *
  * Expected components: 100,000 cliques + 1 chain + 1,000 singletons.
  */
object StressGraph {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", 2 * cpus.toInt)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val nCliques = 100000L
    val s = 10L // clique size
    // decode (group, i, j) from one range; keep i < j → all C(s,2) pairs
    val cliqueEdges = spark.range(nCliques * s * s)
      .select((col("id") / (s * s)).cast("long").as("g"),
        ((col("id") / s) % s).cast("long").as("i"),
        (col("id") % s).cast("long").as("j"))
      .filter(col("i") < col("j"))
      .select((col("g") * s + col("i")).as("doc_a"),
        (col("g") * s + col("j")).as("doc_b"))
    val chainBase = nCliques * s
    val chainEdges = spark.range(15)
      .select((col("id") + chainBase).as("doc_a"),
        (col("id") + chainBase + 1).as("doc_b"))
    val edges = cliqueEdges.union(chainEdges).cache()
    val vertices = spark.range(nCliques * s + 16 + 1000) // + 1k singletons
      .select(col("id").as("doc_id"))
    println(s"[stress-graph] edges=${edges.count()} vertices=${nCliques * s + 16 + 1000}")

    (1 to 2).foreach { run =>
      val t0 = System.nanoTime()
      val cc = graft.ext.Dedup.connectedComponents(edges, vertices)
      val components = cc.agg(countDistinct(col("cluster_id"))).collect().head.getLong(0)
      println(f"[stress-graph] cc run$run ${(System.nanoTime() - t0) / 1e9}%.2f s " +
        s"($components components)")
      assert(components == nCliques + 1 + 1000,
        s"expected ${nCliques + 1 + 1000} components, got $components")
    }

    // Star variant at SCALE on the clique graph (diameter 1, the shape it
    // converges on immediately): exact 100k-component structure from 4.5M
    // edges. Deliberately NOT the combined graph: with the chain mixed
    // in, every star round reprocesses the 900k surviving clique star
    // edges while only the 16-vertex chain still moves — the frontier
    // loop's shrinking-frontier economics win that mixed shape (measured:
    // ~90 s/round under load vs the frontier loop's ~2 s late rounds),
    // which is exactly why the frontier loop stays registered.
    (1 to 2).foreach { run =>
      val t0 = System.nanoTime()
      val star = graft.ext.Dedup.edgeComponentLabelsStar(cliqueEdges)
      val comp = star.agg(countDistinct(col("cluster_id"))).collect().head.getLong(0)
      println(f"[stress-graph] cc-star cliques run$run ${(System.nanoTime() - t0) / 1e9}%.2f s " +
        s"($comp edge-touched components)")
      assert(comp == nCliques, s"expected $nCliques, got $comp")
    }

    // Adversarial diameter: one 2^14-vertex path. The frontier loop pays
    // one round PER HOP (16384 rounds — infeasible, each round is a Spark
    // job); the star rounds collapse the chain geometrically. This shape
    // is why the variant exists.
    val deepN = 1 << 14
    val deepBase = 10L * nCliques * s
    val deepChain = spark.range(deepN - 1)
      .select((col("id") + deepBase).as("doc_a"),
        (col("id") + deepBase + 1).as("doc_b"))
    (1 to 2).foreach { run =>
      val t0 = System.nanoTime()
      val star = graft.ext.Dedup.edgeComponentLabelsStar(deepChain)
      val got = star.agg(countDistinct(col("cluster_id")), count(lit(1)))
        .collect().head
      println(f"[stress-graph] cc-star deep-chain run$run " +
        f"${(System.nanoTime() - t0) / 1e9}%.2f s " +
        s"(${got.getLong(0)} component over ${got.getLong(1)} vertices)")
      assert(got.getLong(0) == 1L && got.getLong(1) == deepN.toLong)
    }
    spark.stop()
  }
}
