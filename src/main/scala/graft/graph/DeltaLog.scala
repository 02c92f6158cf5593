package graft.graph

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Incremental commit log for [[GraphStore]] — the Spark-native analog of
  * the reference's WAL + snapshot + compaction storage
  * (`/root/reference/pkg/storage/wal_engine.go:28-45`: every mutation is
  * appended to the WAL, a periodic snapshot bounds replay, and recovery =
  * load snapshot + replay tail).
  *
  * Here a "WAL record" is a per-statement DELTA COMMIT: only the rows the
  * statement touched are written (upserts keyed by `id`, deletes as id
  * lists), never the full store. Every `compactEvery` delta commits the
  * store writes a CHECKPOINT (full tables) and reads its bases back from
  * it (see [[Overlay]]); replay restarts from it too, so recovery cost is
  * bounded by `compactEvery`, and a statement that sets one property on
  * one node writes one row, not 100 TB.
  *
  * The latest version and the deltas since the newest checkpoint are kept
  * in this instance, read from `_log` once on first use and moved by each
  * commit, so a commit never re-reads the log.
  *
  * Commit protocol (the public Delta-Lake-style log shape): data files land
  * under `dir/delta/v{N}/<part>` or `dir/checkpoint/v{N}/<table>` first,
  * then a one-line JSON record is moved ATOMICALLY into `dir/_log/{N}.json`
  * — readers only trust versions that appear in `_log`, so a crashed
  * half-written commit is invisible. On a cluster the same rename-commit
  * runs against the object store's atomic-put; nothing here is
  * driver-resident except the tiny log records.
  *
  * Recognized delta parts: `nodes_upserts`, `nodes_deletes` (id),
  * `edges_upserts`, `edges_deletes` (id), `nodes_rewrite`, `edges_rewrite`
  * (whole-table refactor ops — apoc.refactor label/type rewrites, which
  * rewrite the frame wholesale by design), `node_embeddings_upserts`,
  * `rel_embeddings_upserts` (keyed by entity_id+name), and
  * `node_embeddings_deletes` / `rel_embeddings_deletes` (same keys).
  */
final class DeltaLog(val spark: SparkSession, val dir: String,
    crypto: Option[Encryption.Encryptor] = None) {

  private def logDir = s"$dir/_log"
  new File(logDir).mkdirs()

  final case class Commit(version: Long, kind: String, parts: Seq[String])

  /** Committed versions in order, parsed from the `_log` records. */
  def commits(): Seq[Commit] = {
    val fs = Option(new File(logDir).listFiles()).getOrElse(Array.empty)
    fs.filter(_.getName.endsWith(".json")).sortBy(_.getName).toSeq.map { f =>
      val raw = new String(Files.readAllBytes(f.toPath), StandardCharsets.UTF_8)
      // encrypted-at-rest logs (Encryption.Encryptor): plaintext records
      // from before encryption was enabled stay readable (format sniff)
      val s = if (raw.startsWith("{")) raw
        else crypto.map(_.decryptString(raw)).getOrElse(raw)
      def field(k: String): String =
        s.split(s""""$k":""").lift(1)
          .map(_.takeWhile(c => c != ',' && c != '}').replace("\"", "").trim)
          .getOrElse("")
      val version = field("version").toLong
      val kind = field("kind")
      val parts = s.split(""""parts":\[""").lift(1)
        .map(_.takeWhile(_ != ']').split(',').filter(_.nonEmpty)
          .map(_.replace("\"", "").trim).toSeq)
        .getOrElse(Nil)
      Commit(version, kind, parts)
    }.sortBy(_.version)
  }

  /** (latest version, delta commits since the newest checkpoint). */
  private var state: Option[(Long, Int)] = None
  private def seen: (Long, Int) = state.getOrElse {
    val cs = commits()
    val lastCp = cs.reverse.find(_.kind == "checkpoint").map(_.version).getOrElse(-1L)
    val s = (cs.lastOption.map(_.version).getOrElse(-1L),
      cs.count(c => c.kind == "delta" && c.version > lastCp))
    state = Some(s)
    s
  }

  def latestVersion: Long = synchronized(seen._1)

  /** Delta commits since (and not counting) the newest checkpoint. */
  def deltasSinceCheckpoint: Int = synchronized(seen._2)

  private def writeRecord(version: Long, kind: String, parts: Seq[String]): Unit = {
    val json = s"""{"version":$version,"kind":"$kind","parts":[${
      parts.map("\"" + _ + "\"").mkString(",")}]}"""
    val content = crypto.map(_.encryptString(json)).getOrElse(json)
    val tmp = Paths.get(logDir, s".$version.json.tmp")
    Files.write(tmp, content.getBytes(StandardCharsets.UTF_8))
    // rename = the atomic commit point (object-store atomic-put at scale)
    Files.move(tmp, Paths.get(logDir, f"$version%020d.json"),
      StandardCopyOption.ATOMIC_MOVE)
  }

  /** Write one delta commit: only the statement's touched rows. */
  def commitDelta(version: Long, parts: Map[String, DataFrame]): Unit = synchronized {
    require(!parts.isEmpty, "empty delta commit")
    parts.foreach { case (name, df) =>
      df.write.mode("overwrite").parquet(s"$dir/delta/v$version/$name")
    }
    writeRecord(version, "delta", parts.keys.toSeq.sorted)
    // not yet read: the first read will count this commit
    state = state.map { case (_, since) => (version, since + 1) }
  }

  /** Write a checkpoint: the fully materialized tables. Replay restarts
    * here, and older delta files become garbage (left in place — a real
    * deployment vacuums them on a retention clock).
    */
  def commitCheckpoint(version: Long, g: PropertyGraph,
      nodeEmb: DataFrame, relEmb: DataFrame): Unit = synchronized {
    val base = s"$dir/checkpoint/v$version"
    g.nodes.write.mode("overwrite").parquet(s"$base/nodes")
    g.edges.write.mode("overwrite").parquet(s"$base/edges")
    nodeEmb.write.mode("overwrite").parquet(s"$base/node_embeddings")
    relEmb.write.mode("overwrite").parquet(s"$base/rel_embeddings")
    writeRecord(version, "checkpoint", Nil)
    state = Some((version, 0))
  }

  /** One table of checkpoint `version`, read back with the `schema` it
    * was written with (no inference job).
    */
  def checkpointTable(version: Long, table: String, schema: StructType): DataFrame =
    spark.read.schema(schema).parquet(s"$dir/checkpoint/v$version/$table")

  /** Garbage-collect data made unreachable by the newest checkpoint: delta
    * directories at or below its version and all older checkpoints (the
    * reference compacts its WAL the same way after snapshot,
    * `wal_engine.go`'s auto-compaction). Log records are KEPT — history
    * stays auditable; only the data files go. Returns the number of
    * directories removed.
    */
  def vacuum(): Int = {
    val cs = commits()
    val lastCp = cs.reverse.find(_.kind == "checkpoint").map(_.version).getOrElse(-1L)
    def rmTree(f: File): Unit = {
      Option(f.listFiles()).getOrElse(Array.empty).foreach(rmTree)
      f.delete()
    }
    val deadDeltas = cs.filter(c => c.kind == "delta" && c.version < lastCp)
      .map(c => new File(s"$dir/delta/v${c.version}"))
    val deadCps = cs.filter(c => c.kind == "checkpoint" && c.version < lastCp)
      .map(c => new File(s"$dir/checkpoint/v${c.version}"))
    val dead = (deadDeltas ++ deadCps).filter(_.exists())
    dead.foreach(rmTree)
    dead.size
  }

  final case class Replayed(graph: PropertyGraph, nodeEmb: DataFrame,
      relEmb: DataFrame, version: Long)

  /** Recovery: newest checkpoint + ordered delta tail
    * (`wal_engine.go:28-45`'s open path). Upserts replace by key. The
    * frames are lazy; [[GraphStore.loadWal]] pins them, so the replayed
    * store starts with a flat lineage regardless of tail length.
    */
  def replay(): Replayed = {
    val cs = commits()
    require(cs.nonEmpty, s"no commits in $dir")
    val cp = cs.reverse.find(_.kind == "checkpoint")
      .getOrElse(throw new IllegalStateException(
        s"no checkpoint in $dir — a WAL dir always starts with checkpoint v0"))
    val base = s"$dir/checkpoint/v${cp.version}"
    var nodes = spark.read.parquet(s"$base/nodes")
    var edges = spark.read.parquet(s"$base/edges")
    var nEmb = spark.read.parquet(s"$base/node_embeddings")
    var rEmb = spark.read.parquet(s"$base/rel_embeddings")

    def applyTable(cur: DataFrame, v: Long, parts: Seq[String],
        up: String, del: String, rewrite: String): DataFrame = {
      if (parts.contains(rewrite))
        spark.read.parquet(s"$dir/delta/v$v/$rewrite")
      else {
        var out = cur
        val delIds =
          (if (parts.contains(del))
            Some(spark.read.parquet(s"$dir/delta/v$v/$del").select("id"))
          else None) ++
          (if (parts.contains(up))
            Some(spark.read.parquet(s"$dir/delta/v$v/$up").select("id"))
          else None)
        delIds.reduceOption(_ unionByName _).foreach { ids =>
          out = out.join(ids.distinct(), Seq("id"), "left_anti")
        }
        if (parts.contains(up)) {
          // schema evolution across commits: an upsert batch may carry
          // hoisted property columns older commits (or the checkpoint)
          // never saw — the live store widens its tables the same way
          // (Overlay.conform)
          val rows = spark.read.parquet(s"$dir/delta/v$v/$up")
          out = out.unionByName(rows, allowMissingColumns = true)
        }
        out
      }
    }
    def applyEmb(cur: DataFrame, v: Long, parts: Seq[String], up: String,
        del: String): DataFrame = {
      var out = cur
      if (parts.contains(del)) {
        val keys = spark.read.parquet(s"$dir/delta/v$v/$del")
          .select("entity_id", "name")
        out = out.join(keys, Seq("entity_id", "name"), "left_anti")
      }
      if (parts.contains(up)) {
        val rows = spark.read.parquet(s"$dir/delta/v$v/$up")
        out = out.join(rows.select("entity_id", "name"),
          Seq("entity_id", "name"), "left_anti").unionByName(rows)
      }
      out
    }

    cs.filter(c => c.kind == "delta" && c.version > cp.version).foreach { c =>
      nodes = applyTable(nodes, c.version, c.parts, "nodes_upserts", "nodes_deletes", "nodes_rewrite")
      edges = applyTable(edges, c.version, c.parts, "edges_upserts", "edges_deletes", "edges_rewrite")
      nEmb = applyEmb(nEmb, c.version, c.parts, "node_embeddings_upserts",
        "node_embeddings_deletes")
      rEmb = applyEmb(rEmb, c.version, c.parts, "rel_embeddings_upserts",
        "rel_embeddings_deletes")
    }
    Replayed(PropertyGraph(nodes, edges), nEmb, rEmb, cs.last.version)
  }
}
