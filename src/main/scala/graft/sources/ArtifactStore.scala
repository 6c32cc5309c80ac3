package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.io.ByteArrayOutputStream

/** Build-once, fingerprint-guarded parquet artifacts — the shared
  * commit discipline behind every DERIVED table the engine persists
  * (the multimodal media store, the trained ANN centroid index).
  *
  * An artifact at `path` is served as-is ONLY if its `_SUCCESS` marker
  * exists AND its recorded source fingerprint (md5 over the sorted
  * (path, length, mtime) of every input file behind the source
  * DataFrame, plus a caller salt for build parameters) matches the
  * current source — regenerating the source in place, two sources
  * colliding on one cache path, or a parameter change all force a
  * rebuild instead of silently serving stale rows. Rebuilds land in a
  * fresh temp dir and rename into place (atomic on rename-capable
  * filesystems; an object store needs a table-format commit protocol
  * to own this swap — same caveat as TableLayout.compact). A losing
  * concurrent builder adopts the winner's artifact iff the
  * fingerprint matches.
  *
  * All probes go through the Hadoop FileSystem API, so the guard works
  * for file:/hdfs:/s3a: URIs alike (round-4 verdict item 6 discipline,
  * generalized from the media store in round 8).
  */
object ArtifactStore {

  /** Default shared artifact root. Overridable per deployment with
    * GRAFT_STORE_ROOT (a cluster would point this at shared storage —
    * the java.io.tmpdir fallback is single-node only). */
  def defaultRoot: String = sys.env.getOrElse("GRAFT_STORE_ROOT",
    s"${sys.props("java.io.tmpdir")}/graft_store")

  /** Canonical artifact path for a (kind, source-dir) pair under
    * `root`, e.g. `<root>/media/_root_testdata_sf0.1`.
    *
    * The sanitized leaf starts with '_' (absolute source paths begin
    * with '/'), which makes Spark's DataSource log a benign "All paths
    * were ignored" WARN on each read before resolving the explicitly
    * given directory anyway — cosmetic only (every artifact read is
    * value-oracled downstream). Kept as-is: changing the naming would
    * orphan every committed artifact for zero behavioral gain. */
  def pathFor(root: String, kind: String, sourceDir: String): String =
    s"$root/$kind/${sourceDir.replaceAll("[^A-Za-z0-9.]", "_")}"

  /** Schemes whose `rename` is a true atomic move (TableLayout's
    * predicate): everything else gets the pointer-commit protocol. */
  private def atomicRenameScheme(scheme: String): Boolean =
    scheme == null || scheme == "file" || scheme == "hdfs" || scheme == "viewfs"

  /** Serve the artifact at `path`, rebuilding it from `build` first if
    * the marker or fingerprint check fails. Returns a plan over the
    * committed FILES — storage-independent, reusable across sessions,
    * and immune to cache/checkpoint hygiene sweeps.
    *
    * Cost on a warm store: driver-side metadata only — the source's
    * file listing and fingerprint, the marker probes, and one footer
    * read for the served frame's schema ([[graft.Tables.read]]). No
    * Spark job runs until the caller uses the frame.
    *
    * Commit protocol is scheme-routed like TableLayout's manifests:
    * rename-capable filesystems build in a temp dir and swap with one
    * atomic rename; object-store schemes (no atomic rename) build an
    * IMMUTABLE uniquely-named version dir and commit it with a
    * create-exclusive pointer file named by the source fingerprint —
    * the conditional-PUT recipe, so a racing reader either resolves a
    * complete committed version or none, never a half-renamed dir. A
    * losing concurrent builder's create-exclusive fails; it deletes
    * its own version dir and adopts the winner's. */
  def getOrBuild(source: DataFrame, path: String, salt: String = "")(
      build: => DataFrame)(implicit spark: SparkSession): DataFrame = {
    // a fileless source (in-process/IPC-registered frame) has NO file
    // identity: its fingerprint would be a constant, so two different
    // corpora colliding on one path would silently share an artifact.
    // Callers with fileless sources must build in-session instead.
    require(source.inputFiles.nonEmpty,
      s"artifact at $path: source has no input files to fingerprint — " +
        "build-once persistence is only safe for file-backed sources")
    val conf = spark.sparkContext.hadoopConfiguration
    val dest = new HPath(path)
    val fs = dest.getFileSystem(conf)
    val fp = sourceFingerprint(source, conf, salt)
    if (!atomicRenameScheme(dest.toUri.getScheme))
      return getOrBuildPointer(fs, dest, fp)(build)
    ArtifactStore.synchronized {
      if (!valid(fs, dest, fp)) {
        // loud on purpose: a run that spends seconds here is paying
        // ARTIFACT REBUILD, not the query itself — without this line
        // the two are indistinguishable post-hoc
        val reason =
          if (!fs.exists(new HPath(dest, "_SUCCESS"))) "no artifact"
          else "source fingerprint changed"
        System.err.println(s"[graft.artifact] rebuilding $dest ($reason)")
        val tmp = new HPath(dest.getParent,
          s".${dest.getName}_tmp_${System.nanoTime()}")
        build.write.mode("overwrite").parquet(tmp.toString)
        writeFingerprint(fs, tmp, fp) // fingerprint lands before the swap
        fs.delete(dest, true)
        if (!fs.rename(tmp, dest)) {
          fs.delete(tmp, true) // another writer won; adopt its artifact if valid
          require(valid(fs, dest, fp),
            s"concurrent artifact at $dest does not match the current source")
        }
      }
    }
    graft.Tables.read(spark, path)
  }

  /** Object-store commit: resolve the fingerprint's pointer file to
    * its committed version dir, building one first if none exists.
    * Version dirs are immutable and never renamed; the pointer create
    * (overwrite=false → create-exclusive) IS the commit. */
  private def getOrBuildPointer(fs: FileSystem, dest: HPath, fp: String)(
      build: => DataFrame)(implicit spark: SparkSession): DataFrame = {
    val ptr = new HPath(dest, s"ptr_$fp")
    def resolve(): Option[HPath] =
      if (!fs.exists(ptr)) None
      else {
        val in = fs.open(ptr)
        val buf = new ByteArrayOutputStream()
        try {
          org.apache.hadoop.io.IOUtils.copyBytes(in, buf, 4096, false)
          Some(new HPath(dest,
            new String(buf.toByteArray, java.nio.charset.StandardCharsets.UTF_8)))
        } finally in.close()
      }
    ArtifactStore.synchronized {
      if (resolve().isEmpty) {
        System.err.println(
          s"[graft.artifact] building $dest (object-store pointer commit)")
        val v = new HPath(dest, s"v_${System.nanoTime()}")
        build.write.mode("overwrite").parquet(v.toString)
        writeFingerprint(fs, v, fp)
        try {
          val out = fs.create(ptr, false) // create-exclusive: the commit
          try out.write(v.getName.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          finally out.close()
        } catch {
          case _: java.io.IOException =>
            // another writer committed this fingerprint first: drop our
            // version and adopt the committed one
            fs.delete(v, true)
        }
      }
    }
    val vd = resolve().getOrElse(throw new IllegalStateException(
      s"artifact pointer vanished at $ptr"))
    graft.Tables.read(spark, vd.toString)
  }

  private val FingerprintFile = "_graft_source_fp"

  private def valid(fs: FileSystem, dest: HPath, fp: String): Boolean =
    fs.exists(new HPath(dest, "_SUCCESS")) && {
      val f = new HPath(dest, FingerprintFile)
      fs.exists(f) && {
        val in = fs.open(f)
        val buf = new ByteArrayOutputStream()
        try {
          org.apache.hadoop.io.IOUtils.copyBytes(in, buf, 4096, false)
          new String(buf.toByteArray, java.nio.charset.StandardCharsets.UTF_8) == fp
        } finally in.close()
      }
    }

  private def writeFingerprint(fs: FileSystem, dir: HPath, fp: String): Unit = {
    val out = fs.create(new HPath(dir, FingerprintFile), true)
    try out.write(fp.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** md5 over the sorted (path, length, modification time) of every
    * file behind `source`, plus the caller's parameter salt — cheap
    * driver-side metadata reads, no data scan; any rewrite of the
    * source (or parameter change) flips it. */
  def sourceFingerprint(source: DataFrame,
      conf: org.apache.hadoop.conf.Configuration, salt: String = ""): String = {
    val lines = source.inputFiles.sorted.map { f =>
      val p = new HPath(f)
      val st = p.getFileSystem(conf).getFileStatus(p)
      s"$f:${st.getLen}:${st.getModificationTime}"
    }
    val md = java.security.MessageDigest.getInstance("MD5")
    md.update((lines.mkString("\n") + " " + salt)
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    md.digest().map("%02x".format(_)).mkString
  }
}
