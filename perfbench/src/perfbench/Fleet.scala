package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.functions.col

import graft.dbt.{DbtArtifacts, ManifestOps}

/** A seeded fleet of synthetic dbt projects, as two manifest/catalog
  * snapshots on disk, plus the ground truth the engine's answers are
  * checked against. Every project has `models` models in `Layers`
  * layers (staging models read 1-3 sources, later models read 1-3
  * models of lower layers), `Sources` sources and `Macros` macros;
  * unique ids carry the project name, so the fleet is one id space. The
  * second snapshot changes the checksum of `ChangedShare` of each
  * project's models and nothing else. The layers bound the lineage
  * depth, as in real projects, so every seed needs the same number of
  * impact-analysis hops.
  */
object FleetGen {

  final case class Sizes(projects: Int, models: Int = 400) {
    def entitiesPerSnapshot: Int = projects * (models + Sources + Macros)
  }

  final case class Truth(
      entitiesPerSnapshot: Int,
      catalogRows: Int,
      /** (src, dep_type, dst) lineage edges; identical in both snapshots. */
      edges: Set[(String, String, String)],
      changed: Set[String],
      /** (changed_id, impacted_id, min hops) within `MaxHops`. */
      impacted: Set[(String, String, Int)],
      jsonBytes: Map[String, Long]
  )

  val MaxHops = 10
  val Layers = 5
  val Sources = 20
  val Macros = 20
  val ChangedShare = 0.02

  private final case class Model(id: String, nodeDeps: Seq[String], macroDeps: Seq[String], cols: Int, mat: String)

  private val types = Array("bigint", "varchar", "double", "boolean", "timestamp", "date", "numeric(18,2)")
  private val mats = Array("table", "view", "incremental", "ephemeral")

  private def hex64(r: java.util.Random): String = {
    val sb = new StringBuilder(64)
    (0 until 4).foreach(_ => sb.append(f"${r.nextLong()}%016x"))
    sb.toString
  }

  private def words(r: java.util.Random, n: Int): String =
    (0 until n).map(_ => Lexicon(r.nextInt(Lexicon.length))).mkString(" ")

  private val Lexicon = Array(
    "orders", "customer", "revenue", "daily", "snapshot", "events", "session", "ledger", "stage",
    "mart", "dimension", "fact", "rollup", "cohort", "refund", "payment", "invoice", "account",
    "region", "product", "inventory", "shipment", "campaign", "click", "user", "device", "latest"
  )

  /** Writes `<dir>/snap0|snap1/{manifest,catalog}/pNNN.json`; returns
    * the truth and the SHA-256 of every file, in write order. */
  def write(dir: Path, seed: Long, sz: Sizes): (Truth, String) = {
    val digest = java.security.MessageDigest.getInstance("SHA-256")
    val bytes = mutable.Map.empty[String, Long].withDefaultValue(0L)
    val edges = mutable.Set.empty[(String, String, String)]
    val changed = mutable.Set.empty[String]
    val impacted = mutable.Set.empty[(String, String, Int)]

    def put(rel: String, group: String, text: String): Unit = {
      val b = text.getBytes(UTF_8)
      val p = dir.resolve(rel)
      Files.createDirectories(p.getParent)
      Files.write(p, b)
      digest.update(rel.getBytes(UTF_8))
      digest.update(b)
      bytes(group) += b.length
    }

    for (pi <- 0 until sz.projects) {
      val r = new java.util.Random(seed * 1000003L + pi)
      val proj = f"p$pi%03d"
      val sources = (0 until Sources).map(i => f"source.$proj.raw.s$i%02d")
      val macros = (0 until Macros).map(i => f"macro.$proj.mac$i%02d")
      val macroDeps = macros.indices.map(i => if (i > 0 && r.nextInt(3) == 0) Seq(macros(r.nextInt(i))) else Nil)
      val perLayer = sz.models / Layers
      val models = (0 until sz.models).map { i =>
        val id = f"model.$proj.m$i%04d"
        val layer = i / perLayer
        val nDeps = 1 + r.nextInt(3)
        // staging models read sources; every later model reads the layer
        // below it, and sometimes one further down or a source
        val deps =
          if (layer == 0) Seq.fill(nDeps)(sources(r.nextInt(sources.length))).distinct
          else
            Seq.fill(nDeps) {
              val j =
                if (r.nextInt(4) > 0) (layer - 1) * perLayer + r.nextInt(perLayer)
                else r.nextInt(layer * perLayer)
              f"model.$proj.m$j%04d"
            }.distinct ++ (if (r.nextInt(10) == 0) Seq(sources(r.nextInt(sources.length))) else Nil)
        val md = Seq.fill(r.nextInt(3))(macros(r.nextInt(macros.length))).distinct
        Model(id, deps, md, 5 + r.nextInt(10), mats(r.nextInt(mats.length)))
      }
      val sourceCols = sources.map(_ => 3 + r.nextInt(6))
      val descs = (models.map(_ => words(r, 6)), sources.map(_ => words(r, 5)), macros.map(_ => words(r, 4)))
      val sums0 = models.map(_ => hex64(r))
      val nChanged = math.max(1, math.round(sz.models * ChangedShare).toInt)
      // spread over the layers, so the impact cones are alike across seeds
      val changedIdx = mutable.LinkedHashSet.empty[Int]
      while (changedIdx.size < nChanged) changedIdx += (changedIdx.size % Layers) * perLayer + r.nextInt(perLayer)
      val sums1 = models.indices.map(i => if (changedIdx(i)) hex64(r) else sums0(i))

      for (m <- models) {
        m.nodeDeps.foreach(d => edges += ((m.id, "nodes", d)))
        m.macroDeps.foreach(d => edges += ((m.id, "macros", d)))
      }
      macros.zip(macroDeps).foreach { case (m, ds) => ds.foreach(d => edges += ((m, "macros", d))) }

      // reverse BFS over model -> model edges from each changed model:
      // the min hop count at which each dependent reaches it
      val dependents = mutable.Map.empty[String, mutable.ArrayBuffer[String]]
      for (m <- models; d <- m.nodeDeps) dependents.getOrElseUpdate(d, mutable.ArrayBuffer.empty) += m.id
      for (ci <- changedIdx) {
        val c = models(ci).id
        changed += c
        val seen = mutable.Set(c)
        var frontier = Seq(c)
        var hop = 1
        while (hop <= MaxHops && frontier.nonEmpty) {
          val next = frontier.flatMap(f => dependents.getOrElse(f, Nil)).distinct.filterNot(seen)
          next.foreach { n => seen += n; impacted += ((c, n, hop)) }
          frontier = next
          hop += 1
        }
      }

      for ((snap, sums) <- Seq("snap0" -> sums0, "snap1" -> sums1)) {
        put(s"$snap/manifest/$proj.json", "manifest", manifestJson(proj, models, sums, descs, sources, sourceCols, macros, macroDeps))
        put(s"$snap/catalog/$proj.json", "catalog", catalogJson(proj, models, sources, sourceCols))
      }
    }
    val truth = Truth(
      sz.entitiesPerSnapshot,
      sz.projects * (sz.models + Sources),
      edges.toSet,
      changed.toSet,
      impacted.toSet,
      bytes.toMap
    )
    (truth, Workload.hex(digest))
  }

  private def q(s: String) = Json.str(s)

  private def colName(i: Int) = f"col_$i%02d"

  private def columnsJson(n: Int, seedText: String): String =
    (0 until n)
      .map { i =>
        s"""${q(colName(i))}: {"name": ${q(colName(i))}, "description": ${q(s"$seedText column $i")}, """ +
          s""""data_type": ${q(types(i % types.length))}, "meta": {}, "tags": []}"""
      }
      .mkString("{", ", ", "}")

  private def manifestJson(
      proj: String,
      models: Seq[Model],
      sums: Seq[String],
      descs: (Seq[String], Seq[String], Seq[String]),
      sources: Seq[String],
      sourceCols: Seq[Int],
      macros: Seq[String],
      macroDeps: Seq[Seq[String]]
  ): String = {
    def arr(xs: Seq[String]) = xs.map(q).mkString("[", ", ", "]")
    val nodes = models.zip(sums).zip(descs._1).map { case ((m, sum), d) =>
      val name = m.id.split('.').last
      s"""${q(m.id)}: {"unique_id": ${q(m.id)}, "resource_type": "model", "database": "analytics", """ +
        s""""schema": ${q(s"${proj}_marts")}, "name": ${q(name)}, "description": ${q(d)}, """ +
        s""""config": {"enabled": true, "materialized": ${q(m.mat)}}, """ +
        s""""depends_on": {"macros": ${arr(m.macroDeps)}, "nodes": ${arr(m.nodeDeps)}}, """ +
        s""""columns": ${columnsJson(m.cols, d)}, "meta": {"owner": ${q(proj)}}, "tags": ["nightly"], """ +
        s""""checksum": {"name": "sha256", "checksum": ${q(sum)}}}"""
    }
    val srcs = sources.zip(sourceCols).zip(descs._2).map { case ((s, n), d) =>
      val name = s.split('.').last
      s"""${q(s)}: {"unique_id": ${q(s)}, "resource_type": "source", "database": "raw", """ +
        s""""schema": ${q(s"${proj}_raw")}, "name": ${q(name)}, "identifier": ${q(name)}, """ +
        s""""description": ${q(d)}, "config": {"enabled": true}, "columns": ${columnsJson(n, d)}, """ +
        s""""meta": {}, "tags": []}"""
    }
    val macs = macros.zip(macroDeps).zip(descs._3).map { case ((m, ds), d) =>
      val name = m.split('.').last
      s"""${q(m)}: {"unique_id": ${q(m)}, "resource_type": "macro", "name": ${q(name)}, """ +
        s""""description": ${q(d)}, "depends_on": {"macros": ${arr(ds)}}, "meta": {}, "tags": [], """ +
        s""""macro_sql": ${q(s"{% macro $name() %} select 1 as $name {% endmacro %}")}}"""
    }
    s"""{"metadata": {"project": ${q(proj)}}, "nodes": ${nodes.mkString("{", ", ", "}")}, """ +
      s""""sources": ${srcs.mkString("{", ", ", "}")}, "macros": ${macs.mkString("{", ", ", "}")}}"""
  }

  private def catalogJson(proj: String, models: Seq[Model], sources: Seq[String], sourceCols: Seq[Int]): String = {
    def entry(id: String, typ: String, db: String, schema: String, n: Int) = {
      val cols = (0 until n)
        .map(i => s"""${q(colName(i))}: {"name": ${q(colName(i))}, "index": ${i + 1}, "type": ${q(types(i % types.length))}}""")
        .mkString("{", ", ", "}")
      s"""${q(id)}: {"metadata": {"type": ${q(typ)}, "database": ${q(db)}, "schema": ${q(schema)}, """ +
        s""""name": ${q(id.split('.').last)}}, "columns": $cols}"""
    }
    val nodes = models.map(m => entry(m.id, if (m.mat == "view") "VIEW" else "BASE TABLE", "analytics", s"${proj}_marts", m.cols))
    val srcs = sources.zip(sourceCols).map { case (s, n) => entry(s, "BASE TABLE", "raw", s"${proj}_raw", n) }
    s"""{"nodes": ${nodes.mkString("{", ", ", "}")}, "sources": ${srcs.mkString("{", ", ", "}")}}"""
  }

  // -- checkers: each returns the list of problems found ---------------

  def checkImpacted(t: Truth, got: Seq[(String, String, Int)]): Seq[String] = {
    val g = got.toSet
    val missing = t.impacted -- g
    val extra = g -- t.impacted
    (if (got.length != g.size) Seq(s"impacted: ${got.length - g.size} duplicate rows") else Nil) ++
      (if (missing.nonEmpty) Seq(s"impacted: ${missing.size} rows missing, e.g. ${missing.head}") else Nil) ++
      (if (extra.nonEmpty) Seq(s"impacted: ${extra.size} unexpected rows, e.g. ${extra.head}") else Nil)
  }

  def checkEdges(t: Truth, got: Seq[(String, String, String)]): Seq[String] = {
    val g = got.toSet
    if (got.length == t.edges.size && g == t.edges) Nil
    else Seq(s"lineage edges: got ${got.length} rows (${g.size} distinct), expected ${t.edges.size}")
  }

  def checkDiff(t: Truth, got: Seq[(String, String)]): Seq[String] = {
    val bad = got.filter(_._2 != "changed")
    val ids = got.map(_._1).toSet
    (if (bad.nonEmpty) Seq(s"diff: unexpected status rows, e.g. ${bad.head}") else Nil) ++
      (if (ids != t.changed || got.length != t.changed.size)
         Seq(s"diff: ${got.length} changed rows, expected ${t.changed.size}")
       else Nil)
  }

  def checkCount(what: String, got: Long, expected: Long): Seq[String] =
    if (got == expected) Nil else Seq(s"$what: $got rows, expected $expected")
}

/** dbt_fleet: ingest two fleet snapshots, derive lineage, diff them and
  * compute the impacted set — the paper's import at fleet scale. */
final class FleetWorkload(ctx: Ctx, sizes: FleetGen.Sizes) extends Workload {
  import ctx._

  private var truth: FleetGen.Truth = _
  private var pending: FleetGen.Truth = _
  private val recalls = mutable.ArrayBuffer.empty[Double]

  private def manifests(snap: String) = path(s"inputs/$snap/manifest") + "/*.json"
  private def table(name: String) = path(s"tables/$name")

  def prepare(): String = {
    Workload.deleteRecursively(dir.resolve("inputs"))
    val (t, digest) = FleetGen.write(dir.resolve("inputs"), seed, sizes)
    pending = t
    digest
  }

  def computeTruth(): Unit = truth = pending

  def warmUp(): Unit = iterate()

  def startMeasure(): Unit = recalls.clear()

  private def ingest(snap: String, name: String): Option[Unit] =
    op("dbt.read_manifest_all") {
      DbtArtifacts.readManifestAll(spark, manifests(snap)).write.mode("overwrite").parquet(table(name))
    }

  def iterate(): Unit = {
    val (result, _) = tracer.span("dbt.refresh") {
      for {
        _ <- ingest("snap0", "before")
        _ = sweep()
        _ <- ingest("snap1", "after")
        _ = sweep()
        imp <- op("dbt.impacted") {
          collect(ManifestOps.impacted(spark.read.parquet(table("before")), spark.read.parquet(table("after")), FleetGen.MaxHops))
        }
        _ = sweep()
        _ <- op("dbt.read_catalog") {
          DbtArtifacts.readCatalog(spark, path("inputs/snap1/catalog")).write.mode("overwrite").parquet(table("catalog"))
        }
        _ = sweep()
        edges <- op("dbt.lineage_edges")(collect(ManifestOps.lineageEdges(spark.read.parquet(table("after")))))
        _ = sweep()
        diff <- op("dbt.diff") {
          collect(
            ManifestOps
              .diffUnsorted(spark.read.parquet(table("before")), spark.read.parquet(table("after")))
              .filter(col("status") =!= "unchanged")
              .select("unique_id", "status")
          )
        }
      } yield {
        sweep()
        (imp, edges, diff)
      }
    }
    result match {
      case Some((imp, edges, diff)) =>
        val got = imp.map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSeq
        recalls += got.toSet.intersect(truth.impacted).size.toDouble / truth.impacted.size
        checkAll(FleetGen.checkImpacted(truth, got))
        checkAll(FleetGen.checkEdges(truth, edges.map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq))
        checkAll(FleetGen.checkDiff(truth, diff.map(r => (r.getString(0), r.getString(1))).toSeq))
        for (snap <- Seq("before", "after"))
          checkAll(FleetGen.checkCount(s"manifest $snap", spark.read.parquet(table(snap)).count(), truth.entitiesPerSnapshot))
        checkAll(FleetGen.checkCount("catalog", spark.read.parquet(table("catalog")).count(), truth.catalogRows))
      case None => recalls += 0.0
    }
  }

  // a refresh ingests both snapshots, so the ingest median counts twice;
  // impact latency runs from the new snapshot on disk to the impacted set
  private def refreshS =
    2 * median("dbt.read_manifest_all") + median("dbt.impacted") + median("dbt.read_catalog") +
      median("dbt.lineage_edges") + median("dbt.diff")
  private def impactMs = 1000 * (median("dbt.read_manifest_all") + median("dbt.impacted"))
  private def entitiesPerS = 2.0 * sizes.entitiesPerSnapshot / refreshS

  def endToEnd(): Map[String, (Double, String)] = Map(
    "latency_p50_ms" -> (impactMs, "ms"),
    "items_per_s" -> (entitiesPerS, "1/s"),
    // share of the true impacted rows returned; a correct engine
    // returns all of them (any difference also fails the run)
    "recall" -> (Workload.medianOf(recalls.toSeq), "ratio")
  )

  def detail(): Map[String, (Double, String)] = Map(
    "fleet_entities_per_s" -> (entitiesPerS, "1/s"),
    "impact_latency_s" -> (impactMs / 1000, "s"),
    "refreshes" -> (recalls.length.toDouble, "count")
  )

  def perLayer(): Map[String, (Double, String)] = {
    val reads = tracer.named("dbt.read_manifest_all") ++ tracer.named("dbt.read_catalog")
    val refreshes = tracer.named("dbt.refresh").filter(s => tracer.named("dbt.diff").exists(_.run == s.run))
    val mb = (tracer.named("dbt.read_manifest_all").length * truth.jsonBytes("manifest") / 2 +
      tracer.named("dbt.read_catalog").length * truth.jsonBytes("catalog") / 2) / 1e6
    Map(
      "dbt.read_manifest_all_s" -> (Workload.medianSeconds(tracer, "dbt.read_manifest_all"), "s"),
      "dbt.read_catalog_s" -> (Workload.medianSeconds(tracer, "dbt.read_catalog"), "s"),
      "dbt.json_mb_per_s" -> (if (reads.isEmpty) 0.0 else mb / reads.map(_.seconds).sum, "MB/s"),
      "dbt.impacted_s" -> (Workload.medianSeconds(tracer, "dbt.impacted"), "s"),
      "dbt.diff_s" -> (Workload.medianSeconds(tracer, "dbt.diff"), "s"),
      "dbt.lineage_edges_s" -> (Workload.medianSeconds(tracer, "dbt.lineage_edges"), "s"),
      "dbt.jobs_per_refresh" -> (Workload.medianOf(refreshes.map(_.counters.jobs.toDouble)), "count")
    )
  }
}
