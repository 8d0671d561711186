package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame

import graft.operators.{Components, Graph}

/** The fixpoint loops read convergence from the job that pins each
  * round (`Dataset.observe`): no round runs a `count`/`isEmpty`/`head`
  * probe job, and no round leaves Catalyst for a typed
  * `mapPartitions` pass. */
class FixpointSignalSpec extends SparkTestBase {
  import testImplicits._

  // a triangle 1-2-3 with a tail 3-4-5-6, a 4-clique on 10..13 bridged
  // to the triangle, and a pendant pair: every loop runs several rounds
  private val pairs = Seq(
    (1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L), (5L, 6L),
    (10L, 11L), (10L, 12L), (10L, 13L), (11L, 12L), (11L, 13L), (12L, 13L),
    (13L, 1L), (20L, 21L))

  /** (name, scope names) of every stage `body` submits. */
  private def stagesOf(body: => Unit): Seq[(String, Seq[String])] = {
    val sc = spark.sparkContext
    val seen = new ConcurrentLinkedQueue[(String, Seq[String])]()
    val marker = "fixpoint-signal-spec-" + java.util.UUID.randomUUID()
    val drained = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (drained.getCount > 0) seen.add(e.stageInfo.name ->
          e.stageInfo.rddInfos.flatMap(_.scope.map(_.name)))
      // listener events arrive in order, so the marker job's start
      // means every stage of `body` has been seen
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(
            _.getProperty("spark.job.description") == marker))
          drained.countDown()
    }
    sc.addSparkListener(listener)
    try {
      body
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      assert(drained.await(60, TimeUnit.SECONDS), "listener never drained")
    } finally sc.removeSparkListener(listener)
    seen.asScala.toSeq
  }

  private def probes(stages: Seq[(String, Seq[String])]): Seq[String] =
    stages.collect {
      case (name, _) if Seq("count at ", "isEmpty at ", "head at ")
          .exists(name.startsWith) => name
    }

  private def typedPasses(stages: Seq[(String, Seq[String])]): Seq[String] =
    stages.flatMap { case (name, scopes) =>
      scopes.filter(s => s == "DeserializeToObject" || s == "MapPartitions")
        .map(s => s"$name: $s")
    }

  test("connectedComponents, kCorePeel and kTruss run no probe job and " +
    "no typed mapPartitions pass in any round") {
    val ab = pairs.toDF("a", "b")
    val docs = pairs.toDF("doc_a", "doc_b")
    for ((name, op) <- Seq[(String, () => DataFrame)](
        "connectedComponents" -> (() => Components.connectedComponents(ab)),
        "kCorePeel" -> (() => Graph.kCorePeel(docs, k = 2L, rounds = 10)),
        "kTruss" -> (() => Graph.kTruss(docs, k = 4L, rounds = 10)))) {
      var rows = 0
      val stages = stagesOf { rows = op().collect().length }
      assert(rows > 0, name)
      assert(probes(stages).isEmpty, s"$name ran probe jobs")
      assert(typedPasses(stages).isEmpty, s"$name left Catalyst")
    }
  }

  test("connectedComponentsTwoPhase runs no per-round probe: its only " +
    "probe is the one terminal except confirm, the same for a " +
    "one-round and a many-round input") {
    def run(edges: Seq[(Long, Long)]): Seq[(String, Seq[String])] =
      stagesOf {
        Components.connectedComponentsTwoPhase(edges.toDF("a", "b")).collect()
      }
    // a star forest is its own fixpoint: round 1 reproduces it
    val oneRound = run(Seq((1L, 0L), (2L, 0L), (3L, 0L)))
    // a 40-node path needs several star rounds
    val manyRounds = run((0L until 39L).map(i => (i, i + 1)))
    // a result stage carries its action's call site (AQE submits the
    // shuffle stages under its own), so a confirm whose result stage
    // is skipped shows no `isEmpty` stage at all
    for ((what, stages) <- Seq("star" -> oneRound, "path" -> manyRounds)) {
      assert(typedPasses(stages).isEmpty, s"$what left Catalyst")
      val ps = probes(stages)
      assert(ps.forall(_.startsWith("isEmpty at ")), s"$what: $ps")
      assert(ps.distinct.size <= 1, s"$what: one confirm call site, $ps")
    }
    assert(probes(manyRounds).size === probes(oneRound).size)
  }
}
