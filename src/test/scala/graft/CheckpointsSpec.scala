package graft

import java.nio.file.Files

/** Two-mode materialization: localCheckpoint by default, reliable
  * `checkpoint()` when the session conf names a durable dir — same results
  * either way, and the reliable mode actually writes to the dir.
  */
class CheckpointsSpec extends SparkSpec {

  private def anyFiles(f: java.io.File): Boolean =
    f.isFile || Option(f.listFiles()).exists(_.exists(anyFiles))

  private def countFiles(f: java.io.File): Int =
    if (f.isFile) 1 else Option(f.listFiles()).fold(0)(_.map(countFiles).sum)

  test("graft.checkpointDir flips iterative operators to reliable checkpoints") {
    val local = operators.Graph.q81CopurchaseRank(spark, sf0001).collect().toSeq
    val dir = Files.createTempDirectory("graft-ckpt").toString
    spark.conf.set(Checkpoints.ConfKey, dir)
    try {
      val reliable = operators.Graph.q81CopurchaseRank(spark, sf0001).collect().toSeq
      assert(reliable === local, "reliable-checkpoint mode changed q81's result")
      assert(anyFiles(new java.io.File(dir)), s"no checkpoint data under $dir")
    } finally spark.conf.unset(Checkpoints.ConfKey)
  }

  test("reused-relation operators (q82 tf, q78 shingles) agree across modes") {
    val q82Local = operators.Text.q82Tfidf(spark, sf0001).collect().toSeq
    val q78Local = operators.NorthStar.q78Contamination(spark, sf0001).collect().toSeq
    val dir = Files.createTempDirectory("graft-ckpt2").toString
    spark.conf.set(Checkpoints.ConfKey, dir)
    try {
      assert(operators.Text.q82Tfidf(spark, sf0001).collect().toSeq === q82Local)
      assert(operators.NorthStar.q78Contamination(spark, sf0001).collect().toSeq === q78Local)
    } finally spark.conf.unset(Checkpoints.ConfKey)
  }

  test("graft.checkpointDir flips connected components too (the dedup family)") {
    // the one-conf contract: component iterations (q56/q107/q113/q115's
    // resolution stage) must also switch to reliable checkpoints — a dedup
    // run that survives executor loss everywhere EXCEPT its iteration state
    // would be the worst kind of 100 TB surprise
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id1", "id2")
    val local = dedup.Components.connectedComponents(edges, "id1", "id2")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dir = Files.createTempDirectory("graft-ckpt-cc").toString
    spark.conf.set(Checkpoints.ConfKey, dir)
    try {
      val reliable = dedup.Components.connectedComponents(edges, "id1", "id2")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(reliable === local, "conf-flipped components changed the result")
      val ccDirs = Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
        .filter(_.getName.startsWith("cc-"))
      assert(ccDirs.length === 1,
        s"components did not checkpoint under the session conf dir $dir")
    } finally spark.conf.unset(Checkpoints.ConfKey)
  }

  test("explicit checkpointDir argument overrides the session default") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-ckpt3").toString
    val df = Seq(1, 2, 3).toDF("x")
    val out = Checkpoints.materialize(df, Some(dir))
    assert(out.collect().map(_.getInt(0)).sorted.sameElements(Array(1, 2, 3)))
    assert(anyFiles(new java.io.File(dir)), s"no checkpoint data under $dir")
  }

  test("materializeCached memoizes per semantic plan (the q119 standing-set fix)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // two syntactically separate but semantically equal plans → ONE
    // materialization, returned by reference both times (no per-run copy
    // accumulating in the block manager — the round-7 q119 variance cause)
    def plan = Seq(1, 2, 3, 4).toDF("x").filter(col("x") > 1)
    val a = Checkpoints.materializeCached(plan)
    val b = Checkpoints.materializeCached(plan)
    assert(a eq b, "semantically-equal plan did not hit the materialize cache")
    assert(b.collect().map(_.getInt(0)).sorted.sameElements(Array(2, 3, 4)))
    // a different plan must NOT collide
    val c = Checkpoints.materializeCached(Seq(1, 2, 3, 4).toDF("x").filter(col("x") > 2))
    assert(!(c eq a))
    assert(c.collect().map(_.getInt(0)).sorted.sameElements(Array(3, 4)))
    // the explicit-key variant: same key → the memoized handle, and its
    // build thunk runs only on a miss
    var builds = 0
    def byKey = Checkpoints.materializeCachedByKey(spark, "CheckpointsSpec:byKey") {
      builds += 1
      plan
    }
    val k1 = byKey
    assert((byKey eq k1) && builds === 1, "same key did not hit the memo")
    // the escape hatch: clearing the cache forces a rebuild
    Checkpoints.clearMaterializeCache()
    val d = Checkpoints.materializeCached(plan)
    assert(!(d eq a), "clearMaterializeCache did not drop the memoized copy")
    assert(d.collect().map(_.getInt(0)).sorted.sameElements(Array(2, 3, 4)))
    val k2 = byKey
    assert(!(k2 eq k1) && builds === 2, "clearMaterializeCache did not drop the keyed copy")
    // a checkpoint-mode switch rebuilds both in the new mode; switching back
    // finds the local-mode entries again
    val dir = Files.createTempDirectory("graft-ckpt-memo").toString
    spark.conf.set(Checkpoints.ConfKey, dir)
    try {
      assert(!(Checkpoints.materializeCached(plan) eq d), "mode switch reused a local-mode relation")
      val k3 = byKey
      assert(!(k3 eq k2) && builds === 3, "mode switch reused a local-mode keyed relation")
      assert(k3.collect().map(_.getInt(0)).sorted.sameElements(Array(2, 3, 4)))
      assert(anyFiles(new java.io.File(dir)), s"no checkpoint data under $dir")
    } finally spark.conf.unset(Checkpoints.ConfKey)
    assert((Checkpoints.materializeCached(plan) eq d) && (byKey eq k2) && builds === 3)
  }

  test("the index memos key on the checkpoint mode: reliable mode rebuilds, with files") {
    val emb = Tables(spark, sf0001, "embeddings")
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    def ivf = similarity.Ann.ivfIndexCached(emb, "vec_id", "embedding", k = 16)._1
    def jaccard = dedup.JaccardJoin.buildIndexCached(docs, "doc_id", "text", 1L, 2L)
    val (ivfLocal, jaccardLocal) = (ivf, jaccard)
    assert((ivf eq ivfLocal) && (jaccard eq jaccardLocal), "local mode did not hit the memo")
    val dir = Files.createTempDirectory("graft-ckpt-idx").toString
    spark.conf.set(Checkpoints.ConfKey, dir)
    try {
      val ivfReliable = ivf
      assert(!(ivfReliable eq ivfLocal), "IVF index reused across a checkpoint-mode switch")
      assert(anyFiles(new java.io.File(dir)), s"no IVF checkpoint data under $dir")
      val before = countFiles(new java.io.File(dir))
      val jaccardReliable = jaccard
      assert(!(jaccardReliable eq jaccardLocal),
        "Jaccard index reused across a checkpoint-mode switch")
      assert(countFiles(new java.io.File(dir)) > before,
        s"no Jaccard checkpoint data under $dir")
      assert((ivf eq ivfReliable) && (jaccard eq jaccardReliable), "reliable mode did not hit the memo")
    } finally spark.conf.unset(Checkpoints.ConfKey)
  }
}
