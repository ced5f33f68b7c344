package sparkgraft.sql;

import java.io.IOException;
import java.util.ArrayList;
import java.util.Arrays;
import java.util.Collections;
import java.util.HashMap;
import java.util.IdentityHashMap;
import java.util.LinkedHashMap;
import java.util.List;
import java.util.Map;
import java.util.Set;
import java.util.concurrent.atomic.AtomicLong;

import org.apache.hadoop.conf.Configuration;
import org.apache.hadoop.fs.FileStatus;
import org.apache.hadoop.fs.Path;
import org.apache.parquet.HadoopReadOptions;
import org.apache.parquet.ParquetReadOptions;
import org.apache.parquet.hadoop.ParquetFileReader;
import org.apache.parquet.hadoop.metadata.BlockMetaData;
import org.apache.parquet.hadoop.util.HadoopInputFile;
import org.apache.parquet.io.InputFile;
import org.apache.parquet.io.SeekableInputStream;
import org.apache.spark.sql.catalyst.FileSourceOptions;
import org.apache.spark.sql.catalyst.InternalRow;
import org.apache.spark.sql.catalyst.expressions.Alias;
import org.apache.spark.sql.catalyst.expressions.And;
import org.apache.spark.sql.catalyst.expressions.Attribute;
import org.apache.spark.sql.catalyst.expressions.AttributeReference;
import org.apache.spark.sql.catalyst.expressions.ExprId;
import org.apache.spark.sql.catalyst.expressions.Expression;
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow;
import org.apache.spark.sql.catalyst.expressions.InterpretedOrdering;
import org.apache.spark.sql.catalyst.expressions.Literal;
import org.apache.spark.sql.catalyst.expressions.NamedExpression;
import org.apache.spark.sql.catalyst.expressions.SubqueryExpression$;
import org.apache.spark.sql.catalyst.expressions.Unevaluable;
import org.apache.spark.sql.catalyst.expressions.UserDefinedExpression;
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression;
import org.apache.spark.sql.catalyst.expressions.aggregate.Complete$;
import org.apache.spark.sql.catalyst.expressions.aggregate.Count;
import org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation$;
import org.apache.spark.sql.catalyst.plans.logical.Aggregate;
import org.apache.spark.sql.catalyst.plans.logical.Filter;
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation;
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan;
import org.apache.spark.sql.catalyst.plans.logical.Project;
import org.apache.spark.sql.catalyst.plans.logical.Sort;
import org.apache.spark.sql.catalyst.rules.Rule;
import org.apache.spark.sql.catalyst.trees.TreePattern$;
import org.apache.spark.sql.catalyst.util.UnsafeRowUtils$;
import org.apache.spark.sql.catalyst.catalog.CatalogTablePartition;
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils$;
import org.apache.spark.sql.catalyst.catalog.SessionCatalog;
import org.apache.spark.sql.classic.SparkSession;
import org.apache.spark.sql.execution.datasources.CatalogFileIndex;
import org.apache.spark.sql.execution.datasources.DataSourceStrategy$;
import org.apache.spark.sql.execution.datasources.FileStatusCache;
import org.apache.spark.sql.execution.datasources.FileStatusWithMetadata;
import org.apache.spark.sql.execution.datasources.HadoopFsRelation;
import org.apache.spark.sql.execution.datasources.LogicalRelation;
import org.apache.spark.sql.execution.datasources.PartitionDirectory;
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat;
import org.apache.spark.sql.types.DataType;
import org.apache.spark.sql.types.DoubleType;
import org.apache.spark.sql.types.FloatType;
import org.apache.spark.sql.types.StructField;
import scala.Function2;
import scala.Option;
import scala.collection.immutable.Seq;
import scala.jdk.javaapi.CollectionConverters;

/**
 * Answers a row count of partitioned Parquet from the file listing and the
 * footers, with no scan. This comment is the one full statement of what the
 * rule accepts and leaves alone; the Python docs and SCALE.md point here.
 *
 * <p>Shape: {@code [Sort(global)] [Project] Aggregate(grouping: partition
 * attributes, possibly none; aggregates: those attributes and COUNT over
 * non-null literals, no DISTINCT or FILTER) [Project | Filter]*
 * LogicalRelation(HadoopFsRelation, exactly ParquetFileFormat, batch,
 * unbucketed)}, where the Projects below the Aggregate select partition
 * attributes and every Filter conjunct is a deterministic, subquery- and
 * UDF-free predicate over partition attributes only.
 *
 * <p>The subtree becomes one {@link LocalRelation}: the relation's own file
 * index lists the files under the partition filters (the listing the scan
 * would do), and each group counts the row-group rows in its files' footers.
 * For a catalog table whose relation has every selected partition's listing
 * cached, the files are taken from that cache as the file index would take
 * them, without building a file index over every partition.
 * An empty file counts 0, as the scan makes no split of it. A group whose
 * files hold no rows is dropped, as the scan would not see it; an empty
 * grouping always gives one row. A Project above is folded by Spark's
 * {@code ConvertToLocalRelation}, a global Sort by Spark's own ordering.
 *
 * <p>Cost: the driver reads the footer of each listed file it has not read
 * before, serially, during optimization, and runs no Spark job. The row
 * counts it read are kept per JVM by path, length and modification time, for
 * at most {@link #CACHED_FILES} files (least recently used go first), so a
 * query over a table that grew by one file reads one footer. A file replaced
 * under its path has a new length or time and is read again; a count is kept
 * only once the file's time is {@link PartitionRefresh#settled}, so a rewrite
 * within the filesystem's timestamp granularity cannot reuse it. A catalog table's listing is
 * cached by Spark and kept up to date by {@link PartitionRefresh}, so a
 * query after a landing lists no files and reads one footer per new file; a
 * path read's listing is taken per query.
 *
 * <p>Every other shape is left to the scan: COUNT of a column, DISTINCT,
 * FILTER or any other aggregate; a filter or grouping on a data column or on
 * an expression over a partition column; grouping by a float, double or
 * other column whose values do not compare by their binary form; cached,
 * streaming or bucketed relations, other formats, and sessions or reads with
 * {@code ignoreCorruptFiles}/{@code ignoreMissingFiles}. A listing or footer
 * that fails to read leaves the plan unchanged, so the scan reports the
 * error. Exclude the rule by name through {@code
 * spark.sql.optimizer.excludedRules}.
 */
public class FooterRowCounts extends Rule<LogicalPlan> {
  /** Most files whose row count is kept. */
  public static final int CACHED_FILES = 20000;

  /** Row counts by (path, length, modification time). */
  private static final Counts ROWS = new Counts(CACHED_FILES);

  private static final AtomicLong FOOTERS_READ = new AtomicLong();

  /** Footers read since the JVM started. */
  public static long footersRead() {
    return FOOTERS_READ.get();
  }

  /** Files whose row count is kept. */
  public static int cachedFiles() {
    synchronized (ROWS) {
      return ROWS.size();
    }
  }

  /** Row counts by file key, least recently used first, at most {@code limit} of them. */
  public static final class Counts extends LinkedHashMap<List<Object>, Long> {
    private final int limit;

    public Counts(int limit) {
      super(16, 0.75f, true);
      this.limit = limit;
    }

    @Override
    protected boolean removeEldestEntry(Map.Entry<List<Object>, Long> eldest) {
      return size() > limit;
    }
  }

  @Override
  public LogicalPlan apply(LogicalPlan plan) {
    if (!plan.containsPattern(TreePattern$.MODULE$.AGGREGATE())) {
      return plan;
    }
    return rewrite(plan, Collections.newSetFromMap(new IdentityHashMap<>()));
  }

  /** Bottom-up: answer the aggregates, then fold a Project or Sort over an answer. */
  private LogicalPlan rewrite(LogicalPlan plan, Set<LogicalPlan> answers) {
    if (plan instanceof Aggregate agg) {
      LocalRelation rows = answer(agg);
      if (rows != null) {
        answers.add(rows);
        return rows;
      }
    }
    LogicalPlan out = plan.mapChildren(child -> rewrite(child, answers));
    if (out instanceof Project p && answers.contains(p.child())) {
      LogicalPlan folded = ConvertToLocalRelation$.MODULE$.apply(out);
      if (folded instanceof LocalRelation) {
        answers.add(folded);
        return folded;
      }
    } else if (out instanceof Sort s && s.global() && answers.contains(s.child())
        && list(s.order()).stream().allMatch(Expression::deterministic)) {
      LocalRelation child = (LocalRelation) s.child();
      List<InternalRow> rows = new ArrayList<>(list(child.data()));
      rows.sort(new InterpretedOrdering(s.order(), child.output()));
      LocalRelation sorted = new LocalRelation(child.output(), seq(rows), false, Option.empty());
      answers.add(sorted);
      return sorted;
    }
    return out;
  }

  /** The aggregate's rows from listing and footers, or null to leave it to the scan. */
  private LocalRelation answer(Aggregate agg) {
    List<Expression> conjuncts = new ArrayList<>();
    List<NamedExpression> projected = new ArrayList<>();
    LogicalPlan node = agg.child();
    while (true) {
      if (node instanceof Project p) {
        projected.addAll(list(p.projectList()));
        node = p.child();
      } else if (node instanceof Filter f) {
        splitConjuncts(f.condition(), conjuncts);
        node = f.child();
      } else {
        break;
      }
    }
    if (!(node instanceof LogicalRelation rel) || rel.isStreaming()
        || !(rel.relation() instanceof HadoopFsRelation fs)
        || fs.fileFormat().getClass() != ParquetFileFormat.class
        || fs.bucketSpec().isDefined()) {
      return null;
    }
    FileSourceOptions options = new FileSourceOptions(fs.options());
    if (options.ignoreCorruptFiles() || options.ignoreMissingFiles()) {
      return null;
    }

    // relation output attribute -> index into the partition values
    StructField[] partFields = fs.partitionSchema().fields();
    Function2<String, String, Object> resolver = conf().resolver();
    Map<ExprId, Integer> partIndex = new HashMap<>();
    for (AttributeReference a : list(rel.output())) {
      for (int i = 0; i < partFields.length; i++) {
        if ((Boolean) resolver.apply(a.name(), partFields[i].name())
            && a.dataType().equals(partFields[i].dataType())) {
          partIndex.put(a.exprId(), i);
        }
      }
    }
    for (NamedExpression e : projected) {
      if (!isPartitionAttr(e, partIndex)) {
        return null;
      }
    }
    for (Expression c : conjuncts) {
      if (!c.deterministic() || SubqueryExpression$.MODULE$.hasSubquery(c)
          || c.references().isEmpty()
          || list(c.references().toSeq()).stream().anyMatch(a -> !isPartitionAttr(a, partIndex))
          || c.exists(e -> e instanceof UserDefinedExpression
              || e instanceof Unevaluable && !(e instanceof Attribute))) {
        return null;
      }
    }
    List<Integer> groupIndex = new ArrayList<>();
    for (Expression g : list(agg.groupingExpressions())) {
      if (!isPartitionAttr(g, partIndex) || !hasBinaryEquality(g.dataType())) {
        return null;
      }
      groupIndex.add(partIndex.get(((AttributeReference) g).exprId()));
    }
    // per output column: its position in the grouping key, or -1 for the count
    List<NamedExpression> outputs = list(agg.aggregateExpressions());
    int[] source = new int[outputs.size()];
    for (int k = 0; k < outputs.size(); k++) {
      Expression e = (Expression) outputs.get(k);
      if (e instanceof Alias alias) {
        e = alias.child();
      }
      if (isRowCount(e)) {
        source[k] = -1;
      } else if (isPartitionAttr(e, partIndex)
          && list(agg.groupingExpressions()).stream().anyMatch(e::semanticEquals)) {
        source[k] = groupIndex.indexOf(partIndex.get(((AttributeReference) e).exprId()));
      } else {
        return null;
      }
    }

    List<Listed> dirs;
    long[] counts;
    try {
      @SuppressWarnings("unchecked")
      Seq<Attribute> output = (Seq<Attribute>) (Seq<?>) rel.output();
      Seq<Expression> partitionFilters =
          DataSourceStrategy$.MODULE$.normalizeExprs(seq(conjuncts), output);
      dirs = fs.location() instanceof CatalogFileIndex index
          ? cachedListing(fs, index, partitionFilters) : null;
      if (dirs == null) {
        dirs = new ArrayList<>();
        for (PartitionDirectory dir : list(fs.location().listFiles(partitionFilters, seq(List.of())))) {
          List<FileStatus> files = new ArrayList<>();
          for (FileStatusWithMetadata f : list(dir.files())) {
            files.add(f.fileStatus());
          }
          dirs.add(new Listed(dir.values(), files));
        }
      }
      List<FileStatus> files = new ArrayList<>();
      for (Listed dir : dirs) {
        files.addAll(dir.files());
      }
      counts = rowCounts(fs, files);
    } catch (IOException | RuntimeException e) {
      logDebug(() -> "footer row counts left to the scan: " + e);
      return null;
    }

    // group the partition directories; two paths may parse to one value
    Map<List<Object>, long[]> groups = new LinkedHashMap<>();
    int next = 0;
    for (Listed dir : dirs) {
      InternalRow values = dir.values().copy();
      Object[] key = new Object[groupIndex.size()];
      for (int g = 0; g < key.length; g++) {
        int i = groupIndex.get(g);
        key[g] = values.get(i, partFields[i].dataType());
      }
      long[] total = groups.computeIfAbsent(Arrays.asList(key), x -> new long[1]);
      for (int n = dir.files().size(); n > 0; n--) {
        total[0] += counts[next++];
      }
    }
    if (groupIndex.isEmpty() && groups.isEmpty()) {
      groups.put(List.of(), new long[1]);
    }
    List<InternalRow> rows = new ArrayList<>();
    for (Map.Entry<List<Object>, long[]> g : groups.entrySet()) {
      long total = g.getValue()[0];
      if (total == 0 && !groupIndex.isEmpty()) {
        continue; // a group the scan would not see: no rows in its files
      }
      Object[] row = new Object[source.length];
      for (int k = 0; k < source.length; k++) {
        row[k] = source[k] < 0 ? (Object) total : g.getKey().get(source[k]);
      }
      rows.add(new GenericInternalRow(row));
    }
    return new LocalRelation(agg.output(), seq(rows), false, Option.empty());
  }

  /** One partition directory of a listing: its values and its data files. */
  private record Listed(InternalRow values, List<FileStatus> files) {}

  /**
   * A catalog table's listing as {@code CatalogFileIndex.listFiles} gives it
   * (the catalog's partitions under the filters; in each, the non-empty data
   * files directly inside its directory), read from the listing the relation
   * has cached, without building a file index over the partitions; null when
   * a partition's listing is not cached, so the file index lists it.
   */
  private List<Listed> cachedListing(
      HadoopFsRelation fs, CatalogFileIndex index, Seq<Expression> filters) {
    FileStatusCache cache = PartitionRefresh.statusCache(index);
    if (cache == null || index.table().partitionColumnNames().isEmpty()) {
      return null;
    }
    SessionCatalog catalog = ((SparkSession) fs.sparkSession()).sessionState().catalog();
    String tz = conf().sessionLocalTimeZone();
    List<Listed> out = new ArrayList<>();
    for (CatalogTablePartition p : list(ExternalCatalogUtils$.MODULE$.listPartitionsByFilter(
        conf(), catalog, index.table(), filters))) {
      if (p.location().getScheme() == null) {
        return null; // CatalogFileIndex qualifies it against the filesystem
      }
      Path dir = new Path(p.location());
      Option<FileStatus[]> leaves = cache.getLeafFiles(dir);
      if (leaves.isEmpty()) {
        return null;
      }
      String prefix = dir.toUri().getRawPath() + "/";
      List<FileStatus> files = new ArrayList<>();
      for (FileStatus f : leaves.get()) {
        String path = f.getPath().toUri().getRawPath();
        String name = f.getPath().getName();
        if (path.startsWith(prefix) && path.indexOf('/', prefix.length()) < 0 && f.getLen() > 0
            && !(name.startsWith("_") && !name.contains("=")) && !name.startsWith(".")) {
          files.add(f);
        }
      }
      out.add(new Listed(p.toRow(index.partitionSchema(), tz), files));
    }
    return out;
  }

  /**
   * Sum of the row-group row counts in each file's footer: kept from an
   * earlier read, or read on the driver with one set of read options.
   */
  private long[] rowCounts(HadoopFsRelation fs, List<FileStatus> files) throws IOException {
    long readAt = System.currentTimeMillis();
    Configuration conf = null;
    ParquetReadOptions options = null;
    long[] out = new long[files.size()];
    for (int i = 0; i < out.length; i++) {
      FileStatus status = files.get(i);
      if (status.getLen() == 0) {
        continue; // the scan makes no split of an empty file
      }
      List<Object> key =
          List.of(status.getPath().toString(), status.getLen(), status.getModificationTime());
      Long known;
      synchronized (ROWS) {
        known = ROWS.get(key);
      }
      if (known != null) {
        out[i] = known;
        continue;
      }
      if (conf == null) {
        conf = fs.getHadoopConf(fs.sparkSession(), fs.options());
        options = HadoopReadOptions.builder(conf).build();
      }
      InputFile in = HadoopInputFile.fromStatus(status, conf);
      try (SeekableInputStream stream = in.newStream()) {
        for (BlockMetaData block : ParquetFileReader.readFooter(in, options, stream).getBlocks()) {
          out[i] += block.getRowCount();
        }
      }
      FOOTERS_READ.incrementAndGet();
      if (PartitionRefresh.settled(status.getModificationTime(), readAt)) {
        synchronized (ROWS) {
          ROWS.put(key, out[i]);
        }
      }
    }
    return out;
  }

  private static boolean isRowCount(Expression e) {
    return e instanceof AggregateExpression a
        && a.aggregateFunction() instanceof Count count
        && a.mode() == Complete$.MODULE$
        && !a.isDistinct()
        && a.filter().isEmpty()
        && list(count.children()).stream().allMatch(c -> c instanceof Literal l && l.value() != null);
  }

  private static boolean isPartitionAttr(Object e, Map<ExprId, Integer> partIndex) {
    return e instanceof AttributeReference a && partIndex.containsKey(a.exprId());
  }

  /** Grouping by these values equals grouping by Java equality of their internal form. */
  private static boolean hasBinaryEquality(DataType t) {
    return !(t instanceof FloatType || t instanceof DoubleType)
        && UnsafeRowUtils$.MODULE$.isBinaryStable(t);
  }

  private static void splitConjuncts(Expression e, List<Expression> out) {
    if (e instanceof And and) {
      splitConjuncts(and.left(), out);
      splitConjuncts(and.right(), out);
    } else {
      out.add(e);
    }
  }

  private static <T> List<T> list(scala.collection.Seq<T> seq) {
    return CollectionConverters.asJava(seq);
  }

  private static <T> Seq<T> seq(List<T> list) {
    return CollectionConverters.asScala(list).toSeq();
  }
}
