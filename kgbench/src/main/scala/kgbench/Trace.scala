package kgbench

import graft.kg.embed.Embedder
import graft.kg.extract.TripletExtractor
import graft.kg.pipeline.GraphTableIO
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable

/** Spark-side cost of one span, filled by [[SpanListener]] from the job
  * group property the span set while it ran. */
final class SparkCost {
  var jobs, stages, tasks = 0L
  var taskNs, bytesRead, recordsRead, bytesWritten, shuffleWrite = 0L
  def +=(o: SparkCost): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; taskNs += o.taskNs
    bytesRead += o.bytesRead; recordsRead += o.recordsRead
    bytesWritten += o.bytesWritten; shuffleWrite += o.shuffleWrite
  }
}

/** One timed call into a layer: `layer` is the module, `name` the call
  * (for io: `<op>.<table>`). Spans nest; `parent` is the enclosing span. */
final case class Span(id: Int, parent: Int, layer: String, name: String,
    startNs: Long, var endNs: Long = 0L, var filesWritten: Long = 0L) {
  def s: Double = (endNs - startNs) / 1e9
}

/** Attributes jobs, stages, tasks and bytes to spans exactly: every span
  * sets the `kgbench.span` local property on the calling thread, Spark
  * copies local properties into each job and stage it submits, and the
  * listener keys task metrics by the submitting stage. Nothing polls; the
  * bus is drained once, when the run ends ([[Tracer.finish]]). */
final class SpanListener extends SparkListener {
  val costs = new ConcurrentHashMap[Int, SparkCost]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val blocks = new ConcurrentHashMap[String, Long]()
  @volatile var cachedBytes, cachedPeak = 0L

  private def spanOf(p: java.util.Properties): Int =
    Option(p).flatMap(x => Option(x.getProperty(Tracer.Property))).map(_.toInt).getOrElse(0)
  private def cost(span: Int): SparkCost = costs.computeIfAbsent(span, _ => new SparkCost)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val s = spanOf(e.properties)
    cost(s).synchronized(cost(s).jobs += 1)
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val s = spanOf(e.properties)
    stageSpan.put(e.stageInfo.stageId, s)
    cost(s).synchronized(cost(s).stages += 1)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (e.taskMetrics != null) {
    val c = cost(stageSpan.getOrDefault(e.stageId, 0))
    val m = e.taskMetrics
    c.synchronized {
      c.tasks += 1
      c.taskNs += m.executorRunTime * 1000000L
      c.bytesRead += m.inputMetrics.bytesRead
      c.recordsRead += m.inputMetrics.recordsRead
      c.bytesWritten += m.outputMetrics.bytesWritten
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
    }
  }
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD) {
      val now = b.memSize
      val before = Option(blocks.put(b.blockId.name, now)).getOrElse(0L)
      cachedBytes += now - before
      cachedPeak = math.max(cachedPeak, cachedBytes)
    }
  }
}

/** In-memory span recorder. Disabled, [[span]] is a plain call: the
  * untraced runs execute exactly the program's own code paths. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var current = 0
  /** Time the tracer spent on its own bookkeeping (file listings). */
  var ownNs = 0L
  val listener = new SpanListener
  if (enabled) spark.sparkContext.addSparkListener(listener)

  def span[A](layer: String, name: String)(f: => A): A =
    if (!enabled) f
    else {
      val sc = spark.sparkContext
      val sp = Span(spans.size + 1, current, layer, name, System.nanoTime())
      spans += sp
      val outer = current
      current = sp.id
      sc.setLocalProperty(Tracer.Property, sp.id.toString)
      try f
      finally {
        sp.endNs = System.nanoTime()
        current = outer
        sc.setLocalProperty(Tracer.Property, if (outer == 0) null else outer.toString)
      }
    }

  /** Drain the listener bus once; after this the costs are final. */
  def finish(): Unit = if (enabled) org.apache.spark.KgbenchBus.drain(spark.sparkContext)

  def descendants(id: Int): Seq[Span] = {
    val out = mutable.ArrayBuffer.empty[Span]
    var frontier = Seq(id)
    while (frontier.nonEmpty) {
      val next = spans.filter(s => frontier.contains(s.parent)).toSeq
      out ++= next
      frontier = next.map(_.id)
    }
    out.toSeq
  }
  /** Spark cost of a span and everything nested in it. */
  def costOf(id: Int): SparkCost = {
    val c = new SparkCost
    (id +: descendants(id).map(_.id)).foreach { i =>
      Option(listener.costs.get(i)).foreach(c += _)
    }
    c
  }
}

object Tracer {
  val Property = "kgbench.span"
}

/** Every GraphTableIO member forwarded to `inner`, each call a span of
  * layer `io` named `<op>.<table>`; exists, flag and meta calls are spans
  * named `meta.<op>`. Mutating calls also count the data files they add
  * (a listing before and after, charged to [[Tracer.ownNs]]). */
final class TracedTableIO(inner: GraphTableIO, root: String, tracer: Tracer,
    onWrite: () => Unit = () => ()) extends GraphTableIO {
  @transient var calls = 0L

  private def files(table: String): Set[String] = {
    val t0 = System.nanoTime()
    val out = Workloads.dataFiles(root, table)
    tracer.ownNs += System.nanoTime() - t0
    out
  }
  private def call[A](name: String)(f: => A): A = { calls += 1; tracer.span("io", name)(f) }
  private def write[A](op: String, table: String)(f: => A): A = {
    calls += 1
    onWrite()
    if (!tracer.enabled) f
    else {
      val before = files(table)
      val idx = tracer.spans.size
      val r = tracer.span("io", s"$op.$table")(f)
      tracer.spans(idx).filesWritten = (files(table) -- before).size.toLong
      r
    }
  }

  def exists(spark: SparkSession, table: String): Boolean =
    call("meta.exists")(inner.exists(spark, table))
  def read(spark: SparkSession, table: String): DataFrame =
    call(s"read.$table")(inner.read(spark, table))
  def merge(spark: SparkSession, table: String, delta: DataFrame,
      keys: Seq[String], partitionCols: Seq[String]): Unit =
    write("merge", table)(inner.merge(spark, table, delta, keys, partitionCols))
  def overwrite(spark: SparkSession, table: String, df: DataFrame,
      partitionCols: Seq[String]): Unit =
    write("overwrite", table)(inner.overwrite(spark, table, df, partitionCols))
  def overwritePartitions(spark: SparkSession, table: String, df: DataFrame,
      partitionCol: String, partitions: Seq[Int]): Unit =
    write("overwritePartitions", table)(
      inner.overwritePartitions(spark, table, df, partitionCol, partitions))
  override def appendNew(spark: SparkSession, table: String, delta: DataFrame,
      keys: Seq[String], partitionCols: Seq[String]): Unit =
    write("appendNew", table)(inner.appendNew(spark, table, delta, keys, partitionCols))
  override def rowCount(spark: SparkSession, table: String): Long =
    call(s"rowCount.$table")(inner.rowCount(spark, table))
  override def snapshotFp(spark: SparkSession, table: String): String =
    call("meta.snapshotFp")(inner.snapshotFp(spark, table))
  override def withWriterLock[T](spark: SparkSession)(f: => T): T =
    inner.withWriterLock(spark) { calls += 1; f }
  override def setFlag(spark: SparkSession, name: String): Unit =
    call("meta.setFlag")(inner.setFlag(spark, name))
  override def clearFlag(spark: SparkSession, name: String): Unit =
    call("meta.clearFlag")(inner.clearFlag(spark, name))
  override def flagSet(spark: SparkSession, name: String): Boolean =
    call("meta.flagSet")(inner.flagSet(spark, name))
  override def putMeta(spark: SparkSession, name: String, value: String): Unit =
    call("meta.putMeta")(inner.putMeta(spark, name, value))
  override def getMeta(spark: SparkSession, name: String): Option[String] =
    call("meta.getMeta")(inner.getMeta(spark, name))
  override def clearMeta(spark: SparkSession, name: String): Unit =
    call("meta.clearMeta")(inner.clearMeta(spark, name))
}

/** Counts embed calls, their task time and the distinct texts seen. The
  * counters are accumulators (merged from the tasks); the distinct-text
  * set is JVM-wide, which holds because the benchmark runs Spark in local
  * mode (executors share one JVM). */
final class TracedEmbedder(inner: Embedder, calls: org.apache.spark.util.LongAccumulator,
    nanos: org.apache.spark.util.LongAccumulator) extends Embedder {
  def dim: Int = inner.dim
  def embed(text: String): Array[Float] = {
    val t0 = System.nanoTime()
    val v = inner.embed(text)
    nanos.add(System.nanoTime() - t0)
    calls.add(1)
    Distinct.embedTexts.add(Distinct.key(text))
    v
  }
}

final class TracedExtractor(inner: TripletExtractor, calls: org.apache.spark.util.LongAccumulator,
    nanos: org.apache.spark.util.LongAccumulator) extends TripletExtractor {
  def generate(sentence: String): String = {
    val t0 = System.nanoTime()
    val r = inner.generate(sentence)
    nanos.add(System.nanoTime() - t0)
    calls.add(1)
    Distinct.sentences.add(Distinct.key(sentence))
    r
  }
}

object Distinct {
  val embedTexts: java.util.Set[Long] = ConcurrentHashMap.newKeySet[Long]()
  val sentences: java.util.Set[Long] = ConcurrentHashMap.newKeySet[Long]()
  def key(s: String): Long = {
    val t = if (s == null) "" else s
    (scala.util.hashing.MurmurHash3.stringHash(t, 1).toLong << 32) ^
      (scala.util.hashing.MurmurHash3.stringHash(t, 2).toLong & 0xffffffffL)
  }
}

/** Decorator fidelity: a decorator that misses an override of a defaulted
  * member silently reroutes (an unforwarded `appendNew` falls back to
  * `merge`, an unforwarded `getMeta` answers None). Every public member of
  * the trait is invoked reflectively on the decorator over a recording
  * inner instance, and must reach the inner member of the same name. */
object Fidelity {
  private final class Recorder extends java.lang.reflect.InvocationHandler {
    var last: String = null
    def invoke(proxy: AnyRef, m: java.lang.reflect.Method, args: Array[AnyRef]): AnyRef = {
      last = m.getName
      if (m.getName == "withWriterLock") args(1).asInstanceOf[Function0[AnyRef]]()
      else defaultOf(m.getReturnType)
    }
  }
  private def defaultOf(c: Class[_]): AnyRef =
    if (c == java.lang.Boolean.TYPE) java.lang.Boolean.FALSE
    else if (c == java.lang.Long.TYPE) java.lang.Long.valueOf(0L)
    else if (c == java.lang.Integer.TYPE) java.lang.Integer.valueOf(0)
    else if (c == classOf[Option[_]]) None
    else if (c == classOf[String]) ""
    else if (c == classOf[Array[Float]]) Array.emptyFloatArray
    else null
  private def argOf(c: Class[_]): AnyRef =
    if (c == classOf[String]) "t"
    else if (c == classOf[Seq[_]]) Nil
    else if (c == java.lang.Integer.TYPE) java.lang.Integer.valueOf(0)
    else if (c == classOf[Function0[_]]) (() => null)
    else null

  /** Names of the trait members the decorator does not forward. */
  def unforwarded[T](trait_ : Class[T], wrap: T => T): Seq[String] = {
    // Scala-final members (embedPassage, extract, ...) cannot be
    // overridden: they reach the inner instance through a forwarded member
    val ru = scala.reflect.runtime.universe
    val finals = ru.runtimeMirror(trait_.getClassLoader).classSymbol(trait_)
      .toType.decls.filter(m => m.isMethod && m.asMethod.isFinal).map(_.name.toString).toSet
    val methods = trait_.getMethods.toSeq.filter(m =>
      m.getDeclaringClass == trait_ && !m.getName.contains("$") &&
        !finals.contains(m.getName) &&
        !java.lang.reflect.Modifier.isStatic(m.getModifiers))
    methods.flatMap { m =>
      val rec = new Recorder
      val inner = java.lang.reflect.Proxy.newProxyInstance(
        getClass.getClassLoader, Array(trait_), rec).asInstanceOf[T]
      val outer = wrap(inner)
      try m.invoke(outer, m.getParameterTypes.map(argOf): _*)
      catch { case _: Throwable => () }
      if (rec.last == m.getName) None else Some(m.getName)
    }.distinct.sorted
  }

  def check(spark: SparkSession): Seq[String] = {
    val sc = spark.sparkContext
    val (a, b) = (sc.longAccumulator, sc.longAccumulator)
    val tracer = new Tracer(spark, enabled = false)
    unforwarded(classOf[GraphTableIO], (io: GraphTableIO) => new TracedTableIO(io, "", tracer)) ++
      unforwarded(classOf[Embedder], (e: Embedder) => new TracedEmbedder(e, a, b)) ++
      unforwarded(classOf[TripletExtractor], (x: TripletExtractor) => new TracedExtractor(x, a, b))
  }
}
