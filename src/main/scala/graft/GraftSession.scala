package graft

import org.apache.spark.sql.SparkSession

/** Single wiring point for engine sessions: extensions (native
  * functions) and the config every entry point needs. Callers
  * with their own session can instead set
  * `spark.sql.extensions=graft.plans.GraftExtensions`, and for local files
  * without a process fork per chmod/readlink (`graft.io`)
  * `spark.hadoop.fs.file.impl=graft.io.NoForkLocalFileSystem` and
  * `spark.hadoop.fs.AbstractFileSystem.file.impl=graft.io.NoForkLocalFs`.
  * Hadoop caches one `FileSystem` per scheme for the JVM, so the first
  * local `FileSystem.get` decides its class.
  *
  * Memory pages: a hash aggregate, a sort or a string-key broadcast
  * relation takes one whole Tungsten page (`spark.buffer.pageSize`) when
  * it receives its first row, and keeps it while it lives. Spark's own
  * default is `execution pool / cores / 16` rounded up to a power of two
  * (on 4 cores: 8 MiB at a 2 GiB heap, 64 MiB at 8 GiB), so a 30-row
  * aggregate held 8–64 MiB. The builder sets the page to
  * [[pageSizeFor]] of this JVM's heap instead: the smallest power of two
  * of at least 1 MiB whose 8192 pages cover the heap, at most 64 MiB.
  * The floor is the page table, not a taste: a task addresses at most
  * 8192 pages (`TaskMemoryManager`'s 13-bit page number), and a task
  * that runs out of page numbers fails rather than spills, so the pages
  * must be large enough that 8192 of them hold any heap. A record larger
  * than a page still gets a page of its own size. Cluster executors run
  * on their own heaps: pass the same rule for the executor heap through
  * the submit conf (`--conf spark.buffer.pageSize=…`).
  */
object GraftSession {

  /** Spark's page table size (`TaskMemoryManager.PAGE_TABLE_SIZE`). */
  val PageTableSize: Long = 1L << 13
  private val MinPage = 1L << 20
  private val MaxPage = 64L << 20

  /** The page size for a JVM heap of `maxHeapBytes`: the smallest power
    * of two in [1 MiB, 64 MiB] such that [[PageTableSize]] pages cover
    * the heap (1 MiB for every heap up to 8 GiB; capped above 512 GiB).
    */
  def pageSizeFor(maxHeapBytes: Long): Long = {
    var page = MinPage
    while (page < MaxPage && page * PageTableSize < maxHeapBytes) page <<= 1
    page
  }

  def builder(cores: String = "4"): SparkSession.Builder =
    SparkSession.builder()
      .withExtensions(new graft.plans.GraftExtensions)
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.buffer.pageSize",
        pageSizeFor(Runtime.getRuntime.maxMemory).toString)
      .config("spark.sql.session.timeZone", "UTC")
      // pandas-parity null-on-failure semantics (see functions.Normalize)
      .config("spark.sql.ansi.enabled", "false")
      // events.parquet ships TIMESTAMP(NANOS); see Registry.events
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // The default 100-entry whole-stage-codegen cache thrashes on any
      // workload with more than ~10 distinct operator plans: this
      // registry compiles ~600 codegen units per 47 queries, so EVERY
      // pass recompiled ~all of them (measured: 615/627 units recompiled
      // per sweep, ~0.2-0.3 s/query of Janino+JIT). Size the cache to
      // the workload, not the demo default — the same hygiene applies to
      // any long-lived production driver/executor running a diverse
      // operator surface (guide §1.2 per-task work: don't recompile what
      // you already compiled).
      .config("spark.sql.codegen.cache.maxEntries", "8192")
      // Spark 4.1 keys that cache by (class loader, code). With artifact
      // isolation on, every streaming start runs in a cloned session whose
      // executor tasks get a fresh session class loader, so each stream
      // drain recompiled every class it had compiled before (22 classes,
      // 44 generated-class loads per AvailableNow drain of the events
      // pipeline). Isolation separates per-session added jars and class
      // files; these sessions add none, so one shared loader loses nothing.
      .config("spark.sql.artifact.isolation.enabled", "false")
      // bucketed tables (sources.Bucketing) land outside the repo tree;
      // per-JVM suffix so concurrent runs on one host cannot overwrite
      // each other's saveAsTable paths
      .config("spark.sql.warehouse.dir",
        s"${sys.props("java.io.tmpdir")}/graft-warehouse-" +
          java.lang.ProcessHandle.current().pid())
      .config("spark.ui.enabled", "false")
      // local files through graft.io: no fork per chmod or readlink, on
      // the FileSystem path (sinks) and the FileContext path (streaming
      // checkpoints)
      .config("spark.hadoop.fs.file.impl",
        classOf[graft.io.NoForkLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        classOf[graft.io.NoForkLocalFs].getName)
}
