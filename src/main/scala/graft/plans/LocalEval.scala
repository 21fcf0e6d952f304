package graft.plans

import scala.collection.immutable.ArraySeq
import scala.collection.mutable
import scala.util.control.{ControlThrowable, NonFatal}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression,
  DeclarativeAggregate, ImperativeAggregate}
import org.apache.spark.sql.catalyst.planning.ExtractEquiJoinKeys
import org.apache.spark.sql.catalyst.plans.{FullOuter, InnerLike, JoinType, LeftAnti,
  LeftOuter, LeftSemi, RightOuter}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation,
  PartitioningAwareFileIndex}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.graft.SqlShim
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SizeEstimator

import graft.operators.LocalGate

/** Answers a small plan on the driver: collect each narrow input once,
  * evaluate everything above the inputs with Spark's interpreted
  * expressions, return one `LocalRelation`.
  *
  * A narrow input is a file scan, a pinned relation (checkpointed or
  * cached frame) under any chain of `Project`, `Filter` and `Generate`
  * — the part of a plan Spark runs without a shuffle. `LocalEval(df)`
  * goes local only when both gates pass, and checks both before it
  * launches anything:
  *  - every operator of `df`'s optimized plan above its narrow inputs is
  *    one it evaluates: `Project`, `Filter`, `Generate`, `Union`,
  *    `Expand`, `Aggregate` (distinct and dedup included), equi-`Join`
  *    (inner, left, right, full, semi, anti, with a residual condition),
  *    `Window` (`row_number`, `rank`, `dense_rank`, and aggregates over
  *    the whole partition or a running frame), `WindowGroupLimit`,
  *    `Sort`, `Limit`, `Offset` and `LocalRelation`; every expression is
  *    deterministic, holds no subquery, and evaluates without codegen;
  *  - every narrow input's size estimate fits the session's broadcast
  *    byte budget (`spark.sql.autoBroadcastJoinThreshold`), the size
  *    Spark already trusts to ship whole to one place.
  * Then each distinct narrow input is collected in one job, capped at
  * `threshold` rows per partition, and the rest runs on the driver. A
  * narrow input or any operator's output over `threshold` rows, or any
  * error while evaluating, gives `df` back unchanged (after the collect
  * jobs, which are then wasted), so the distributed plan answers and
  * raises exactly as before. When a gate fails `df` comes back
  * unchanged and nothing runs.
  *
  * The file is the unit the driver reuses. A narrow input that ends in
  * a file relation (a non-streaming `HadoopFsRelation` over a listing
  * file index) whose own size estimate fits the byte budget is read
  * whole: the relation is collected once, its `Project`, `Filter` and
  * `Generate` run on the driver, and its rows go into the session
  * registry ([[SessionRegistry]]) keyed by the canonical relation, the
  * session settings that decode it, and its files' fingerprint (path,
  * length, mtime from the listing the relation already holds). A later
  * ask over the same unchanged files, with any key or filter, reads the
  * stored rows and runs no job; a rewritten or swapped table lists other
  * files and is read anew. A relation whose whole collect passes
  * `threshold` rows is not stored: the ask is retried with its file
  * scans collected as narrow inputs when a filter or generator above one
  * could bring it under the gate, else `df` comes back. Relations over
  * the budget and non-file inputs (checkpoints, cached frames) keep the
  * per-ask collect and are never stored.
  *
  * A driver twin's cut ([[graft.operators.LocalGate.cut]]) is answered
  * as rows, not as a frame ([[cut]]), and a cut whose only narrow
  * inputs are whole file relations is stored too, keyed by its
  * canonical optimized plan and the reader settings, for its files'
  * fingerprints. Seeds never enter a cut, so a later twin over the
  * unchanged files, from any source and with any key, starts from the
  * stored rows: no job and no evaluation. Every answer computed here,
  * and every twin's, becomes a frame one way ([[relation]]): a local
  * relation marked analyzed, so no analyzer rule walks its rows.
  *
  * The answer equals the distributed plan's: the same bound expressions
  * evaluate each row; grouping, partition and join keys compare as
  * `UnsafeRow` bytes after Spark's float normalization, as the hash
  * aggregate and hash join do; sorts are stable with Spark's
  * `InterpretedOrdering`, as the single-partition `SortExec` is; null join
  * keys never match. Row order is that of a one-partition run, so it
  * differs from the distributed answer only where Spark leaves order (or
  * `first`) undefined. The result has the analyzed plan's output
  * attributes, hence `df`'s exact schema and nullability.
  *
  * Why: a report ask over one portal's CRM state reads at most a few
  * thousand rows, yet its distributed plan runs 2-8 jobs, and a mix of
  * asks cycles through more generated classes than Spark's codegen
  * cache holds, so each pass recompiles them; and the asks of one
  * session read the same few files over and over (SCALE.md, `LocalEval`).
  * Folding is explicit at the call sites ([[graft.query]] asks,
  * [[graft.operators.LocalGate.cut]]), not an optimizer rule: such a
  * rule would also fold every literal test or catalog frame. */
object LocalEval {

  def apply(df: DataFrame, threshold: Long = LocalGate.DefaultRows): DataFrame = {
    val plan = df.queryExecution.optimizedPlan
    if (plan.isInstanceOf[LocalRelation]) df
    else evaluate(df.sparkSession, plan, threshold, keep = false)
      .fold(df)(relation(df.sparkSession, df.queryExecution.analyzed.output, _))
  }

  /** The rows of a driver twin's cut frame `df` (in its analyzed
    * output's order) when they evaluate on the driver within `threshold`
    * rows, else None. A cut whose only narrow inputs are file relations
    * read whole is itself kept in the session registry, keyed by its
    * canonical optimized plan and the reader settings, for those files'
    * fingerprints: a later cut of the same plan over the unchanged files
    * is read from there, with no job and no evaluation. Cuts over pinned
    * or checkpointed frames are never kept. */
  private[graft] def cut(df: DataFrame, threshold: Long): Option[Rows] =
    df.queryExecution.optimizedPlan match {
      case r: LocalRelation if !r.isStreaming => Some(r.data.toIndexedSeq).filter(_.length <= threshold)
      case plan => evaluate(df.sparkSession, plan, threshold, keep = true)
    }

  /** `rows` under `output` as one local relation marked analyzed, so
    * the analyzer passes over it, alone or under any plan built on top:
    * the one way an answer computed on the driver becomes a frame. */
  def relation(spark: SparkSession, output: Seq[Attribute], rows: Rows): DataFrame =
    SqlShim.ofAnalyzed(spark, LocalRelation(output, rows))

  private def evaluate(spark: SparkSession, plan: LogicalPlan, threshold: Long,
      keep: Boolean): Option[Rows] = {
    val budget = spark.sessionState.conf.autoBroadcastJoinThreshold
    if (threshold <= 0 || budget <= 0 || plan.isStreaming) None
    else evaluate(spark, plan, threshold, budget, wholeFiles = true, keep)
  }

  /** `plan` answered locally, file relations read whole through the
    * registry when `wholeFiles`; a file relation over the row gate
    * retries with file scans collected as narrow inputs, when some
    * filter or generator above one could bring it under the gate. With
    * `keep`, a plan over whole files alone is also stored itself. */
  private def evaluate(spark: SparkSession, plan: LogicalPlan, threshold: Long, budget: Long,
      wholeFiles: Boolean, keep: Boolean): Option[Rows] = {
    val conf = spark.sessionState.conf
    val c = new Compiler(threshold, if (wholeFiles) budget else 0L, conf)
    val root = try Some(c.compile(plan)) catch { case Bail | NonFatal(_) => None }
    if (root.isEmpty || !c.inputs.values.forall(_.plan.stats.sizeInBytes <= budget)) return None
    val sc = spark.sparkContext
    val entry = if (keep && plan.collectLeaves().forall(fileIndex(_).isDefined) &&
        c.inputs.values.forall(_.file.isDefined))
      Some((("cut", plan.canonicalized, reader(conf)), c.inputs.values.map(_.files).toSeq))
    else None
    val stored = entry.flatMap { case (key, files) => SessionRegistry.shared.get[Rows](sc, key, files) }
    if (stored.isDefined) return stored.filter(_.length <= threshold)
    try {
      val t0 = System.nanoTime()
      val cap = math.min(threshold + 1, Int.MaxValue.toLong).toInt
      for (in <- c.inputs.values) {
        in.rows = if (in.file.isDefined) fileRows(spark, in, cap, threshold)
          else collect(spark, in.plan, cap)
        if (in.rows.length > threshold) throw Bail
      }
      val rows = root.get()
      for ((key, files) <- entry)
        SessionRegistry.shared.put(sc, key, files, rows, footprint(rows), System.nanoTime() - t0)
      Some(rows)
    } catch {
      case FileOverGate if c.narrowsFile =>
        evaluate(spark, plan, threshold, budget, wholeFiles = false, keep)
      case Bail | FileOverGate | NonFatal(_) => None
    }
  }

  /** The rows of whole file input `in`: the registry's when its files
    * are unchanged, else one capped collect, stored unless over the
    * gate. */
  private def fileRows(spark: SparkSession, in: Input, cap: Int, threshold: Long): Rows = {
    val sc = spark.sparkContext
    SessionRegistry.shared.get[Rows](sc, in.file.get, in.files).getOrElse {
      val t0 = System.nanoTime()
      val rows = collect(spark, in.plan, cap)
      if (rows.length > threshold) throw FileOverGate
      SessionRegistry.shared.put(sc, in.file.get, in.files, rows, footprint(rows),
        System.nanoTime() - t0)
      rows
    }
  }

  /** The listing of a non-streaming file relation whose index lists its
    * files (what Spark plans a file scan from), else None. */
  private def fileIndex(p: LogicalPlan): Option[PartitioningAwareFileIndex] = p match {
    case r: LogicalRelation if !r.isStreaming => r.relation match {
      case HadoopFsRelation(i: PartitioningAwareFileIndex, _, _, _, _, _) => Some(i)
      case _ => None
    }
    case _ => None
  }

  /** Session settings that change the rows a file decodes to. */
  private val readerConf = Seq("spark.sql.session.timeZone", "spark.sql.caseSensitive",
    "spark.sql.legacy.parquet.nanosAsLong", "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp", "spark.sql.files.ignoreCorruptFiles",
    "spark.sql.files.ignoreMissingFiles")

  private def reader(conf: SQLConf): Seq[String] = readerConf.map(conf.getConfString(_, null))

  /** Driver heap held by rows, about: an `UnsafeRow` copy's own size,
    * and for other rows (a cut's evaluated rows) the mean estimate of an
    * even sample of at most 64 of them. */
  private def footprint(rows: Rows): Long = {
    val sample = rows.indices.by(math.max(1, rows.length / 64)).map(rows)
      .filterNot(_.isInstanceOf[UnsafeRow])
    val generic = if (sample.isEmpty) 0L else sample.map(SizeEstimator.estimate).sum / sample.length
    rows.iterator.map {
      case u: UnsafeRow => u.getSizeInBytes + 64L
      case _ => generic
    }.sum + 16L * rows.length
  }

  /** One job: at most `cap` rows of each partition of `plan`, copied. */
  private[graft] def collect(spark: SparkSession, plan: LogicalPlan, cap: Int): Rows = {
    val qe = SqlShim.ofRows(spark, plan).queryExecution
    SQLExecution.withNewExecutionId(qe, Some("LocalEval")) {
      ArraySeq.unsafeWrapArray(qe.toRdd.mapPartitions(_.take(cap).map(_.copy())).collect())
    }
  }

  /** Spark's `lower` or `upper` over a UTF8_BINARY string, with the
    * ASCII branch taken here: an ASCII value maps through
    * `toLowerCaseAscii` / `toUpperCaseAscii`, any other goes to `fn`.
    * Spark's own case mapping starts with this same branch (with ICU
    * case mappings, `CollationAwareUTF8String.toLowerCase`/`toUpperCase`;
    * without, `UTF8String.toLowerCase`/`toUpperCase`), so the bytes are
    * the same; but the ICU path sits in a class whose static initializer
    * title-cases every code point (1.2-1.3 s on a 4-core host), which
    * an answer over ASCII text never starts (SCALE.md, `LocalEval`). */
  private final case class AsciiCase(fn: UnaryExpression with String2StringExpression)
      extends UnaryExpression with CodegenFallback {
    private val upper = fn.isInstanceOf[Upper]
    override def child: Expression = fn.child
    override def dataType: DataType = fn.dataType
    override protected def nullSafeEval(v: Any): Any = {
      val s = v.asInstanceOf[UTF8String]
      if (!s.isFullAscii) fn.convert(s)
      else if (upper) s.toUpperCaseAscii
      else s.toLowerCaseAscii
    }
    override protected def withNewChildInternal(c: Expression): AsciiCase =
      AsciiCase(fn.withNewChildren(Seq(c)).asInstanceOf[UnaryExpression with String2StringExpression])
  }

  private object Bail extends ControlThrowable

  /** A whole file relation's collect passed the row gate. */
  private object FileOverGate extends ControlThrowable

  private[graft] type Rows = IndexedSeq[InternalRow]

  /** A narrow input; `rows` is filled by its collect job, or from the
    * registry under `file`, the key of a whole file relation, for the
    * fingerprint of its `files`. */
  private final class Input(val plan: LogicalPlan, val file: Option[Any] = None) {
    var rows: Rows = IndexedSeq.empty
    lazy val files: Seq[(String, Long, Long)] = SessionRegistry.fingerprint(fileIndex(plan).get.allFiles())
  }

  /** A running aggregate: rows in, current value out. */
  private trait Acc {
    def update(r: InternalRow): Unit
    def result(): Any
  }

  /** An output buffer that gives up past `threshold` rows. */
  private final class Out(threshold: Long) {
    val rows = mutable.ArrayBuffer.empty[InternalRow]
    def +=(r: InternalRow): Unit = {
      rows += r
      if (rows.length > threshold) throw Bail
    }
  }

  private def narrow(p: LogicalPlan): Boolean = p match {
    case _: LogicalRelation | _: LogicalRDD | _: InMemoryRelation => true
    case Project(_, child) => narrow(child)
    case Filter(_, child) => narrow(child)
    case g: Generate => narrow(g.child)
    case _ => false
  }

  private def values(r: InternalRow, types: Array[DataType]): Array[Any] = {
    val out = new Array[Any](types.length)
    var i = 0
    while (i < out.length) { out(i) = r.get(i, types(i)); i += 1 }
    out
  }

  private def types(attrs: Seq[Attribute]): Array[DataType] = attrs.map(_.dataType).toArray

  /** Turns a plan into a thunk over its narrow inputs' rows; throws
    * [[Bail]] on anything it does not evaluate. */
  private final class Compiler(threshold: Long, filesBudget: Long, conf: SQLConf) {
    val inputs = mutable.LinkedHashMap.empty[Any, Input]
    /** Whether a filter or generator sits above a whole file relation. */
    var narrowsFile = false

    /** A file relation read whole: one that fits `filesBudget` and whose
      * row count, when known, fits the gate. */
    private def wholeFile(p: LogicalPlan): Boolean = fileIndex(p).isDefined &&
      p.stats.sizeInBytes <= filesBudget && !p.stats.rowCount.exists(_ > threshold)

    private def leaf(p: LogicalPlan): LogicalPlan = p.children match {
      case Seq(child) => leaf(child)
      case _ => p
    }

    private def bind[E <: Expression](e: E, input: Seq[Attribute]): E = {
      val unevaluable = e.exists {
        case _: Attribute => false
        case _: SubqueryExpression | _: Unevaluable => true
        case _ => false
      }
      if (!e.deterministic || unevaluable) throw Bail
      BindReferences.bindReference(e, input).transformUp {
        case f @ (_: Lower | _: Upper) if utf8Binary(f.dataType) =>
          AsciiCase(f.asInstanceOf[UnaryExpression with String2StringExpression])
      }.asInstanceOf[E]
    }

    private def utf8Binary(t: DataType): Boolean = t match {
      case st: StringType => st.collationId == StringType.collationId
      case _ => false
    }

    private def projection(exprs: Seq[Expression], input: Seq[Attribute]): InternalRow => InternalRow = {
      val bound = exprs.map(bind(_, input)).toArray
      r => {
        val out = new Array[Any](bound.length)
        var i = 0
        while (i < out.length) { out(i) = bound(i).eval(r); i += 1 }
        new GenericInternalRow(out)
      }
    }

    private def predicate(cond: Expression, input: Seq[Attribute]): InternalRow => Boolean = {
      val b = bind(cond, input)
      r => b.eval(r) == true
    }

    private def ordering(order: Seq[SortOrder], input: Seq[Attribute]): Ordering[InternalRow] =
      new InterpretedOrdering(order.map(o => o.copy(child = bind(o.child, input))))

    /** `UnsafeRow` keys of `exprs` (floats normalized), so keys compare
      * by bytes as Spark's hash aggregate and hash join compare them. */
    private def keys(exprs: Seq[Expression], input: Seq[Attribute]): InternalRow => UnsafeRow = {
      val p = InterpretedUnsafeProjection.createProjection(
        exprs.map(e => bind(SqlShim.normalizeFloats(e), input)))
      r => p(r)
    }

    private def guarded(rows: Rows): Rows =
      if (rows.length > threshold) throw Bail else rows

    private def int(e: Expression): Int =
      if (e.foldable) e.eval().asInstanceOf[Int] else throw Bail

    def compile(p: LogicalPlan): () => Rows = p match {
      case n if narrow(n) && wholeFile(leaf(n)) =>
        if (n.exists(o => o.isInstanceOf[Filter] || o.isInstanceOf[Generate])) narrowsFile = true
        if (n ne leaf(n)) operator(n)
        else {
          val key = (n.canonicalized, reader(conf))
          val in = inputs.getOrElseUpdate(key, new Input(n, Some(key)))
          () => in.rows
        }
      case n if narrow(n) =>
        // a known row count (cached or analyzed stats) is gated here
        if (n.stats.rowCount.exists(_ > threshold) || n.exists(_.expressions.exists(e =>
            !e.deterministic || SubqueryExpression.hasSubquery(e)))) throw Bail
        val in = inputs.getOrElseUpdate(n.canonicalized, new Input(n))
        () => in.rows
      case _ => operator(p)
    }

    private def operator(p: LogicalPlan): () => Rows = p match {
      case LocalRelation(_, data, false, _) =>
        val rows = guarded(data.toIndexedSeq)
        () => rows
      case Project(list, child) =>
        val in = compile(child)
        val f = projection(list, child.output)
        () => in().map(f)
      case Filter(cond, child) =>
        val in = compile(child)
        val f = predicate(cond, child.output)
        () => in().filter(f)
      case g: Generate => generate(g)
      case Union(children, _, _) =>
        val ins = children.map(compile)
        () => guarded(ins.flatMap(_()).toIndexedSeq)
      case Expand(projections, _, child) =>
        val in = compile(child)
        val fs = projections.map(projection(_, child.output))
        () => guarded(in().flatMap(r => fs.map(_(r))))
      case a: Aggregate => aggregate(a)
      case w: Window => window(w)
      case WindowGroupLimit(partitionSpec, orderSpec, fn, limit, child) =>
        val in = compile(child)
        val rank = rankLike(fn).getOrElse(throw Bail)
        val part = partitions(partitionSpec, orderSpec, child.output)
        () => part(in()).flatMap { rows =>
          val r = rank(rows, part.order)
          rows.indices.filter(r(_) <= limit).map(rows)
        }.toIndexedSeq
      case Sort(order, _, child, _) =>
        val in = compile(child)
        val ord = ordering(order, child.output)
        () => in().sorted(ord)
      case GlobalLimit(n, child) => limit(n, child)
      case LocalLimit(n, child) => limit(n, child)
      case Offset(n, child) =>
        val k = int(n)
        val in = compile(child)
        () => in().drop(k)
      case j: Join => join(j)
      case _ => throw Bail
    }

    private def limit(n: Expression, child: LogicalPlan): () => Rows = {
      val k = int(n)
      val in = compile(child)
      () => in().take(k)
    }

    private def generate(g: Generate): () => Rows = {
      val in = compile(g.child)
      val gen = bind(g.generator, g.child.output)
      val childTypes = types(g.child.output)
      val keep = g.child.output.indices.filterNot(g.unrequiredChildIndex.contains).toArray
      val genTypes = types(g.generatorOutput)
      () => {
        val out = new Out(threshold)
        in().foreach { r =>
          val base = keep.map(i => r.get(i, childTypes(i)))
          var any = false
          gen.eval(r).iterator.foreach { o =>
            any = true
            out += new GenericInternalRow(base ++ values(o, genTypes))
          }
          if (!any && g.outer) out += new GenericInternalRow(base ++ new Array[Any](genTypes.length))
        }
        out.rows.toIndexedSeq
      }
    }

    /** A fresh accumulator per call, for one aggregate over `input`. */
    private def accumulator(ae: AggregateExpression, input: Seq[Attribute]): () => Acc = {
      val base: () => Acc = ae.aggregateFunction match {
        case d: DeclarativeAggregate =>
          val init = d.initialValues.map(bind(_, Nil)).toArray
          val updates = d.updateExpressions.map(bind(_, d.aggBufferAttributes ++ input)).toArray
          val eval = bind(d.evaluateExpression, d.aggBufferAttributes)
          () => new Acc {
            private var buf: InternalRow = new GenericInternalRow(init.map(_.eval(null)))
            def update(r: InternalRow): Unit = {
              val joined = new JoinedRow(buf, r)
              buf = new GenericInternalRow(updates.map(_.eval(joined)))
            }
            def result(): Any = eval.eval(buf)
          }
        case i: ImperativeAggregate =>
          val f = bind(i, input).withNewMutableAggBufferOffset(0).withNewInputAggBufferOffset(0)
          val bufTypes = f.aggBufferAttributes.map(_.dataType)
          () => new Acc {
            private val buf = new SpecificInternalRow(bufTypes)
            f.initialize(buf)
            def update(r: InternalRow): Unit = f.update(buf, r)
            def result(): Any = f.eval(buf)
          }
        case _ => throw Bail
      }
      val filter = ae.filter.map(predicate(_, input))
      val distinct = if (ae.isDistinct) Some(keys(ae.aggregateFunction.children, input)) else None
      if (filter.isEmpty && distinct.isEmpty) base
      else () => new Acc {
        private val a = base()
        private val seen = mutable.HashSet.empty[UnsafeRow]
        def update(r: InternalRow): Unit =
          if (filter.forall(_(r)) && distinct.forall(k => seen.add(k(r).copy()))) a.update(r)
        def result(): Any = a.result()
      }
    }

    private def aggregate(a: Aggregate): () => Rows = {
      val in = compile(a.child)
      val input = a.child.output
      val groupKey = keys(a.groupingExpressions, input)
      val grouping = projection(
        a.groupingExpressions.map(SqlShim.normalizeFloats), input)
      val aggs = mutable.ArrayBuffer.empty[AggregateExpression]
      a.aggregateExpressions.foreach(_.foreach {
        case ae: AggregateExpression if !aggs.exists(_.semanticEquals(ae)) => aggs += ae
        case _ =>
      })
      val accs = aggs.map(accumulator(_, input)).toArray
      val nKeys = a.groupingExpressions.length
      val keyTypes = a.groupingExpressions.map(_.dataType).toArray
      val result = projection(a.aggregateExpressions.map(_.transformDown {
        case ae: AggregateExpression =>
          val i = aggs.indexWhere(_.semanticEquals(ae))
          BoundReference(nKeys + i, ae.dataType, ae.nullable)
        case e if a.groupingExpressions.exists(_.semanticEquals(e)) =>
          val i = a.groupingExpressions.indexWhere(_.semanticEquals(e))
          BoundReference(i, e.dataType, e.nullable)
      }), Nil)
      () => {
        val groups = mutable.LinkedHashMap.empty[UnsafeRow, (InternalRow, Array[Acc])]
        in().foreach { r =>
          val k = groupKey(r)
          val g = groups.get(k) match {
            case Some(g) => g
            case None =>
              val g = (grouping(r), accs.map(_()))
              groups(k.copy()) = g
              g
          }
          g._2.foreach(_.update(r))
        }
        // a global aggregate answers one row even over no input
        val found = groups.values.toIndexedSeq
        val all = if (nKeys == 0 && found.isEmpty)
          IndexedSeq((new GenericInternalRow(0): InternalRow, accs.map(_()))) else found
        guarded(all.map { case (g, as) =>
          result(new GenericInternalRow(values(g, keyTypes) ++ as.map(_.result())))
        })
      }
    }

    /** Rows grouped by partition key (first-seen order), each group
      * sorted stably by `order`. */
    private final class Partitioner(spec: Seq[Expression], val order: Ordering[InternalRow],
        input: Seq[Attribute]) extends (Rows => Seq[Rows]) {
      private val key = keys(spec, input)
      def apply(rows: Rows): Seq[Rows] = {
        val parts = mutable.LinkedHashMap.empty[UnsafeRow, mutable.ArrayBuffer[InternalRow]]
        rows.foreach { r =>
          val k = key(r)
          parts.get(k) match {
            case Some(b) => b += r
            case None => parts(k.copy()) = mutable.ArrayBuffer(r)
          }
        }
        parts.valuesIterator.map(_.toIndexedSeq.sorted(order)).toSeq
      }
    }

    private def partitions(spec: Seq[Expression], order: Seq[SortOrder],
        input: Seq[Attribute]): Partitioner =
      new Partitioner(spec, ordering(order, input), input)

    /** Start index of each row's peer group (rows equal under `order`). */
    private def peerStarts(rows: Rows, order: Ordering[InternalRow]): Array[Int] = {
      val s = new Array[Int](rows.length)
      for (i <- 1 until rows.length)
        s(i) = if (order.compare(rows(i - 1), rows(i)) == 0) s(i - 1) else i
      s
    }

    private def rankLike(fn: Expression): Option[(Rows, Ordering[InternalRow]) => Array[Int]] =
      fn match {
        case _: RowNumber => Some((rows, _) => Array.tabulate(rows.length)(_ + 1))
        case _: Rank => Some((rows, ord) => peerStarts(rows, ord).map(_ + 1))
        case _: DenseRank => Some { (rows, ord) =>
          val s = peerStarts(rows, ord)
          var d = 0
          Array.tabulate(rows.length) { i => if (i == 0 || s(i) == i) d += 1; d }
        }
        case _ => None
      }

    private def window(w: Window): () => Rows = {
      val in = compile(w.child)
      val input = w.child.output
      val part = partitions(w.partitionSpec, w.orderSpec, input)
      val fns: Seq[Rows => Array[Any]] = w.windowExpressions.map {
        case Alias(WindowExpression(fn, WindowSpecDefinition(_, _, frame)), _) =>
          rankLike(fn) match {
            case Some(rank) => (rows: Rows) => rank(rows, part.order).map(x => x: Any)
            case None => fn match {
              case ae: AggregateExpression if !ae.isDistinct && ae.filter.isEmpty =>
                windowAggregate(accumulator(ae, input), frame, part.order)
              case _ => throw Bail
            }
          }
        case _ => throw Bail
      }
      val childTypes = types(input)
      () => {
        val out = mutable.ArrayBuffer.empty[InternalRow]
        part(in()).foreach { rows =>
          val cols = fns.map(_(rows))
          rows.indices.foreach { i =>
            out += new GenericInternalRow(values(rows(i), childTypes) ++ cols.map(_(i)))
          }
        }
        out.toIndexedSeq
      }
    }

    private def windowAggregate(acc: () => Acc, frame: Expression,
        order: Ordering[InternalRow]): Rows => Array[Any] = frame match {
      case SpecifiedWindowFrame(_, UnboundedPreceding, UnboundedFollowing) => rows =>
        val a = acc()
        rows.foreach(a.update)
        Array.fill[Any](rows.length)(a.result())
      case SpecifiedWindowFrame(RowFrame, UnboundedPreceding, CurrentRow) => rows =>
        val a = acc()
        rows.map { r => a.update(r); a.result() }.toArray
      case SpecifiedWindowFrame(RangeFrame, UnboundedPreceding, CurrentRow) => rows =>
        // a range frame ends at the current row's last peer
        val a = acc()
        val out = new Array[Any](rows.length)
        var i = 0
        while (i < rows.length) {
          var j = i
          while (j < rows.length && order.compare(rows(i), rows(j)) == 0) { a.update(rows(j)); j += 1 }
          val v = a.result()
          while (i < j) { out(i) = v; i += 1 }
        }
        out
      case _ => throw Bail
    }

    private def join(j: Join): () => Rows = j match {
      case ExtractEquiJoinKeys(jt, lk, rk, other, _, left, right, _) if supported(jt) =>
        val (l, r) = (compile(left), compile(right))
        val (lKey, rKey) = (keys(lk, left.output), keys(rk, right.output))
        val cond = other.map(predicate(_, left.output ++ right.output))
        val (lTypes, rTypes) = (types(left.output), types(right.output))
        val (lNulls, rNulls) = (new Array[Any](lTypes.length), new Array[Any](rTypes.length))
        () => {
          val (ls, rs) = (l(), r())
          val table = mutable.HashMap.empty[UnsafeRow, mutable.ArrayBuffer[Int]]
          rs.indices.foreach { i =>
            val k = rKey(rs(i))
            if (!k.anyNull) table.getOrElseUpdate(k.copy(), mutable.ArrayBuffer.empty) += i
          }
          val rightHit = new java.util.BitSet(rs.length)
          val out = new Out(threshold)
          ls.foreach { lr =>
            val k = lKey(lr)
            val cands = if (k.anyNull) Nil else table.getOrElse(k, Nil)
            val hits = cands.filter(i => cond.forall(_(new JoinedRow(lr, rs(i)))))
            jt match {
              case LeftSemi => if (hits.nonEmpty) out += lr
              case LeftAnti => if (hits.isEmpty) out += lr
              case _ =>
                val lv = values(lr, lTypes)
                hits.foreach { i =>
                  rightHit.set(i)
                  out += new GenericInternalRow(lv ++ values(rs(i), rTypes))
                }
                if (hits.isEmpty && (jt == LeftOuter || jt == FullOuter))
                  out += new GenericInternalRow(lv ++ rNulls)
            }
          }
          if (jt == RightOuter || jt == FullOuter)
            rs.indices.foreach { i =>
              if (!rightHit.get(i)) out += new GenericInternalRow(lNulls ++ values(rs(i), rTypes))
            }
          out.rows.toIndexedSeq
        }
      case _ => throw Bail
    }

    private def supported(jt: JoinType): Boolean = jt match {
      case _: InnerLike | LeftOuter | RightOuter | FullOuter | LeftSemi | LeftAnti => true
      case _ => false
    }
  }
}
