package sparkgraft.sql;

import java.io.IOException;
import java.lang.reflect.Field;
import java.nio.file.DirectoryStream;
import java.nio.file.Files;
import java.nio.file.NoSuchFileException;
import java.nio.file.attribute.BasicFileAttributes;
import java.util.ArrayList;
import java.util.Collections;
import java.util.HashMap;
import java.util.HashSet;
import java.util.List;
import java.util.Map;
import java.util.Set;
import java.util.WeakHashMap;

import org.apache.hadoop.conf.Configuration;
import org.apache.hadoop.fs.FileStatus;
import org.apache.hadoop.fs.FileSystem;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.mapreduce.lib.input.FileInputFormat;
import org.apache.spark.sql.catalyst.QualifiedTableName;
import org.apache.spark.sql.catalyst.TableIdentifier;
import org.apache.spark.sql.catalyst.catalog.CatalogStorageFormat;
import org.apache.spark.sql.catalyst.catalog.CatalogTable;
import org.apache.spark.sql.catalyst.catalog.CatalogTablePartition;
import org.apache.spark.sql.catalyst.catalog.CatalogTableType;
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils$;
import org.apache.spark.sql.catalyst.catalog.SessionCatalog;
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan;
import org.apache.spark.sql.classic.SparkSession;
import org.apache.spark.sql.connector.catalog.CatalogManager$;
import org.apache.spark.sql.execution.CacheManager;
import org.apache.spark.sql.execution.command.DDLUtils$;
import org.apache.spark.sql.execution.datasources.CatalogFileIndex;
import org.apache.spark.sql.execution.datasources.FileStatusCache;
import org.apache.spark.sql.execution.datasources.HadoopFsRelation;
import org.apache.spark.sql.execution.datasources.InMemoryFileIndex$;
import org.apache.spark.sql.execution.datasources.LogicalRelation;
import org.apache.spark.sql.internal.SQLConf;
import scala.Option;
import scala.Tuple2;
import scala.collection.immutable.Map$;
import scala.collection.immutable.Seq;
import scala.jdk.javaapi.CollectionConverters;

/**
 * Makes partition directories written under a catalog table's location
 * queryable, like {@code spark.catalog.recoverPartitions}, without dropping
 * the table's cached relation and file listing.
 *
 * <p>{@code recoverPartitions} ends in {@code refreshTable}: the next query
 * analyzes the table again and lists every partition's files again, and past
 * {@code spark.sql.sources.parallelPartitionDiscovery.threshold} paths that
 * listing is a Spark job. Here one refresh lists the table root once and
 * registers the {@code col=value} directories the catalog lacks with {@code
 * SessionCatalog.createPartitions(ignoreIfExists = true)}, under the same
 * names, values and locations {@code recoverPartitions} gives them (the first
 * refresh of a relation reads the catalog's partitions; later ones take a
 * directory they have not seen as new). The cached relation stays; in its
 * file-status cache only a registered partition whose listing may be stale
 * is touched:
 *
 * <ul>
 *   <li>a directory that is gone gets an empty listing (the scan would find
 *       no files there either);
 *   <li>a directory whose modification time differs from the one seen when
 *       its listing was last taken, or that was not settled then (its time or
 *       a listed file's time was not yet {@link #settled}, or a listed data
 *       file was empty), is listed again by Spark's own listing code;
 *   <li>a relation this class has not seen before (the table's first refresh,
 *       or a relation resolved by a query after another refresh) has every
 *       partition listed again, as the query after {@code refreshTable} would.
 * </ul>
 *
 * <p>A directory's modification time changes when a file is created in it,
 * removed from it or renamed into it, but not when a file in it is written.
 * So only files published whole are tracked: renamed into place, as Spark's
 * committers and the package's writer do, or written with no pause longer
 * than the margin of {@link #settled} (a file listed while being written has
 * a recent time, or is empty, and its directory is listed again by the next
 * refresh). A file that pauses longer half written, or is rewritten in place
 * in a settled partition, is not seen; {@code REFRESH TABLE} covers that.
 *
 * <p>{@link #run} falls back to {@code recoverPartitions} for what it cannot
 * reason about: a view, a Hive-format table, a table without exactly one
 * partition column or whose partitions the catalog does not track, a
 * location scheme other than {@code file} or {@code hdfs}, a registered
 * partition outside the table root, a directory with an empty value or two
 * directories with one value, a configured input path filter, {@code
 * spark.sql.hive.manageFilesourcePartitions} off or {@code
 * spark.sql.hive.filesourcePartitionFileCacheSize} 0 (no listing is cached),
 * {@code spark.sql.hive.gatherFastStats} on, and a table held in the cache manager
 * ({@code CACHE TABLE}). A cached query over the table is cached again, as
 * {@code refreshTable} does.
 */
public final class PartitionRefresh {
  /** What a refresh saw of one partition directory when it listed it. */
  private record Seen(Path path, long mtime, boolean settled) {}

  /**
   * File-status cache of a resolved table relation -> directory name -> what
   * was seen when its listing was last taken. Weak keys: a dropped relation
   * takes its entry with it.
   */
  private static final Map<FileStatusCache, Map<String, Seen>> SEEN =
      Collections.synchronizedMap(new WeakHashMap<>());

  private static final Field FILE_STATUS_CACHE = fileStatusCacheField();

  private PartitionRefresh() {}

  /**
   * Whether a modification time {@code mtime} read at {@code seenAt} (both
   * epoch ms) is old enough that any later change gets a different time.
   * Filesystems stamp changes from a coarse clock (a scheduler tick, up to
   * 10 ms on Linux; whole seconds on some filesystems) and Hadoop reports
   * milliseconds, so a change in the same tick as the last one can keep the
   * time. A time on a whole second is taken to come from a seconds-grained
   * filesystem (a fine-grained one gives one in a thousand times, and then
   * only waits longer). On HDFS the namenode stamps the time, so its clock
   * and the driver's must agree to within the margin.
   */
  public static boolean settled(long mtime, long seenAt) {
    return seenAt - mtime > (mtime % 1000 == 0 ? 3000 : 100);
  }

  /** Makes the partition directories under {@code table}'s location queryable. */
  public static void run(SparkSession session, String table) throws Exception {
    if (!refresh(session, table)) {
      session.catalog().recoverPartitions(table);
    }
  }

  private static boolean refresh(SparkSession session, String name) throws Exception {
    SessionCatalog catalog = session.sessionState().catalog();
    SQLConf conf = session.sessionState().conf();
    TableIdentifier ident;
    try {
      ident = session.sessionState().sqlParser().parseTableIdentifier(name);
    } catch (Exception e) {
      return false;
    }
    if (FILE_STATUS_CACHE == null || catalog.isTempView(ident) || !catalog.tableExists(ident)
        || !conf.manageFilesourcePartitions() || conf.filesourcePartitionFileCacheSize() <= 0
        || conf.gatherFastStats()) {
      return false;
    }
    CatalogTable table = catalog.getTableMetadata(ident);
    if (table.tableType().equals(CatalogTableType.VIEW())
        || !DDLUtils$.MODULE$.isDatasourceTable(table)
        || !table.tracksPartitionsInCatalog()
        || table.partitionColumnNames().size() != 1) {
      return false;
    }
    CacheManager cache = session.sharedState().cacheManager();
    if (!cache.isEmpty() && cache.lookupCachedData(session.table(name)).isDefined()) {
      return false;
    }
    Configuration hadoopConf = session.sessionState().newHadoopConf();
    if (hadoopConf.get(FileInputFormat.PATHFILTER_CLASS) != null) {
      return false;
    }
    Path location = new Path(table.location());
    FileSystem fs = location.getFileSystem(hadoopConf);
    if (!"file".equals(fs.getScheme()) && !"hdfs".equals(fs.getScheme())) {
      return false;
    }
    Path root = fs.makeQualified(location);
    String column = table.partitionColumnNames().head();

    LogicalPlan cached = catalog.getCachedTable(QualifiedTableName.apply(
        CatalogManager$.MODULE$.SESSION_CATALOG_NAME(),
        table.identifier().database().get(),
        table.identifier().table()));
    FileStatusCache files = cached == null ? null : statusCache(cached);
    Map<String, Seen> seen = files == null ? null : SEEN.get(files);
    long seenAt = System.currentTimeMillis();
    Map<String, Long> dirs = listDirs(fs, root, column, conf);
    if (dirs == null) {
      return false;
    }
    if (seen == null) {
      if (files == null) {
        files = statusCache(session.table(name).queryExecution().analyzed().collectLeaves().head());
      }
      if (files == null || !start(session, table, fs, root, dirs, conf)) {
        return false;
      }
      files.invalidateAll(); // listings cached at times unknown here
      seen = new HashMap<>();
      listInto(session, hadoopConf, files, seen, root, dirs, new ArrayList<>(dirs.keySet()), seenAt);
      SEEN.put(files, seen);
    } else {
      synchronized (seen) {
        if (!update(session, table, hadoopConf, files, seen, root, dirs, seenAt)) {
          return false;
        }
      }
    }
    if (!cache.isEmpty()) {
      cache.recacheByPlan(session, session.table(name).queryExecution().analyzed());
    }
    return true;
  }

  /** First refresh of a relation: register what the catalog lacks. */
  private static boolean start(
      SparkSession session, CatalogTable table, FileSystem fs, Path root, Map<String, Long> dirs,
      SQLConf conf) throws Exception {
    SessionCatalog catalog = session.sessionState().catalog();
    Set<String> registered = new HashSet<>();
    for (CatalogTablePartition p : list(catalog.listPartitions(table.identifier(), Option.empty()))) {
      Path path = fs.makeQualified(new Path(p.location()));
      if (!root.equals(path.getParent())
          || !isPartitionDir(path.getName(), table.partitionColumnNames().head(), conf)) {
        return false; // a partition elsewhere: its directory is not in this listing
      }
      registered.add(path.getName());
    }
    List<String> lacking = new ArrayList<>();
    for (String dir : dirs.keySet()) {
      if (!registered.contains(dir)) {
        lacking.add(dir);
      }
    }
    return register(session, table, root, lacking, dirs.keySet());
  }

  /**
   * Later refreshes: register new directories, and bring the cached listing
   * of each new, changed, unsettled or vanished one up to date.
   */
  private static boolean update(
      SparkSession session, CatalogTable table, Configuration hadoopConf, FileStatusCache files,
      Map<String, Seen> seen, Path root, Map<String, Long> dirs, long seenAt) throws Exception {
    List<String> stale = new ArrayList<>();
    List<String> added = new ArrayList<>();
    for (Map.Entry<String, Long> dir : dirs.entrySet()) {
      Seen last = seen.get(dir.getKey());
      if (last == null) {
        added.add(dir.getKey());
        stale.add(dir.getKey());
      } else if (last.mtime() != dir.getValue() || !last.settled()) {
        stale.add(dir.getKey());
      }
    }
    if (!added.isEmpty() && !register(session, table, root, added, dirs.keySet())) {
      return false;
    }
    for (var it = seen.entrySet().iterator(); it.hasNext(); ) {
      Map.Entry<String, Seen> last = it.next();
      if (!dirs.containsKey(last.getKey())) {
        // gone: the scan finds no files there
        files.putLeafFiles(last.getValue().path(), new FileStatus[0]);
        it.remove();
      }
    }
    listInto(session, hadoopConf, files, seen, root, dirs, stale, seenAt);
    return true;
  }

  /**
   * Lists directories {@code names} (from {@code dirs}, whose times were read
   * at {@code seenAt}) into the relation's listing cache, with Spark's own
   * listing code, and records what was seen of each.
   */
  private static void listInto(
      SparkSession session, Configuration hadoopConf, FileStatusCache files, Map<String, Seen> seen,
      Path root, Map<String, Long> dirs, List<String> names, long seenAt) {
    if (names.isEmpty()) {
      return;
    }
    List<Path> paths = new ArrayList<>();
    for (String dir : names) {
      Seen last = seen.get(dir);
      paths.add(last != null ? last.path() : child(root, dir));
    }
    // listed in the order of the paths given
    List<Tuple2<Path, Seq<FileStatus>>> listed = list(InMemoryFileIndex$.MODULE$.bulkListLeafFiles(
        seq(paths), hadoopConf, null, session, Map$.MODULE$.empty()));
    for (int i = 0; i < names.size(); i++) {
      FileStatus[] leaves = list(listed.get(i)._2()).toArray(new FileStatus[0]);
      files.putLeafFiles(listed.get(i)._1(), leaves);
      long mtime = dirs.get(names.get(i));
      boolean settled = settled(mtime, seenAt);
      for (FileStatus f : leaves) {
        settled &= f.getLen() > 0 && settled(f.getModificationTime(), seenAt);
      }
      seen.put(names.get(i), new Seen(paths.get(i), mtime, settled));
    }
  }

  /**
   * Registers directories {@code names} under {@code root}, as
   * recoverPartitions would, in batches of {@code
   * spark.sql.addPartitionInBatch.size}; false, before any change, when a
   * value is empty (the catalog rejects it) or two of {@code all} share one.
   */
  private static boolean register(
      SparkSession session, CatalogTable table, Path root, List<String> names, Set<String> all)
      throws Exception {
    if (names.isEmpty()) {
      return true;
    }
    Set<String> values = new HashSet<>();
    for (String dir : all) {
      String value = value(dir);
      if (value.isEmpty() || !values.add(value)) {
        return false;
      }
    }
    String column = table.partitionColumnNames().head();
    CatalogStorageFormat storage = table.storage();
    List<CatalogTablePartition> parts = new ArrayList<>();
    for (String dir : names) {
      CatalogStorageFormat at = storage.copy(Option.apply(child(root, dir).toUri()),
          storage.inputFormat(), storage.outputFormat(), storage.serde(),
          storage.compressed(), storage.properties());
      parts.add(new CatalogTablePartition(
          Map$.MODULE$.from(CollectionConverters.asScala(Map.of(column, value(dir)))),
          at, Map$.MODULE$.empty(), System.currentTimeMillis(), -1, Option.empty()));
    }
    int batch = Integer.parseInt(session.sessionState().conf()
        .getConfString("spark.sql.addPartitionInBatch.size", "100"));
    for (int i = 0; i < parts.size(); i += batch) {
      session.sessionState().catalog().createPartitions(
          table.identifier(), seq(parts.subList(i, Math.min(parts.size(), i + batch))), true);
    }
    return true;
  }

  /**
   * Name -> modification time of each {@code column=value} directory under
   * {@code root}, as recoverPartitions scans them; null when the root cannot
   * be listed. On {@code file} one stat per entry through java.nio.
   */
  private static Map<String, Long> listDirs(
      FileSystem fs, Path root, String column, SQLConf conf) {
    Map<String, Long> out = new HashMap<>();
    try {
      if ("file".equals(fs.getScheme())) {
        try (DirectoryStream<java.nio.file.Path> entries =
            Files.newDirectoryStream(java.nio.file.Path.of(root.toUri()))) {
          for (java.nio.file.Path entry : entries) {
            String name = entry.getFileName().toString();
            if (isPartitionDir(name, column, conf)) {
              try {
                BasicFileAttributes attrs = Files.readAttributes(entry, BasicFileAttributes.class);
                if (attrs.isDirectory()) {
                  out.put(name, attrs.lastModifiedTime().toMillis());
                }
              } catch (NoSuchFileException e) {
                // removed since the listing
              }
            }
          }
        }
      } else {
        for (FileStatus st : fs.listStatus(root)) {
          String name = st.getPath().getName();
          if (st.isDirectory() && isPartitionDir(name, column, conf)) {
            out.put(name, st.getModificationTime());
          }
        }
      }
    } catch (IOException | RuntimeException e) {
      return null;
    }
    return out;
  }

  private static boolean isPartitionDir(String name, String column, SQLConf conf) {
    int eq = name.indexOf('=');
    if (eq < 0 || name.startsWith(".") || name.equals("_temporary")) {
      return false;
    }
    String col = ExternalCatalogUtils$.MODULE$.unescapePathName(name.substring(0, eq));
    return (Boolean) conf.resolver().apply(col, column);
  }

  private static String value(String dir) {
    return ExternalCatalogUtils$.MODULE$.unescapePathName(dir.substring(dir.indexOf('=') + 1));
  }

  /** The directory's path as Hadoop's listing builds it (a colon stays in the name). */
  private static Path child(Path root, String name) {
    return new Path(root, new Path(null, null, name));
  }

  /** The file-status cache of a catalog table's relation, or null. */
  private static FileStatusCache statusCache(LogicalPlan plan) {
    return plan instanceof LogicalRelation rel
        && rel.relation() instanceof HadoopFsRelation fs
        && fs.location() instanceof CatalogFileIndex index ? statusCache(index) : null;
  }

  /** The listing cache of a catalog table's file index (a private field), or null. */
  static FileStatusCache statusCache(CatalogFileIndex index) {
    try {
      return FILE_STATUS_CACHE == null ? null : (FileStatusCache) FILE_STATUS_CACHE.get(index);
    } catch (IllegalAccessException e) {
      return null;
    }
  }

  private static Field fileStatusCacheField() {
    try {
      Field f = CatalogFileIndex.class.getDeclaredField("fileStatusCache");
      f.setAccessible(true);
      return f;
    } catch (ReflectiveOperationException | RuntimeException e) {
      return null;
    }
  }

  private static <T> List<T> list(scala.collection.Seq<T> seq) {
    return CollectionConverters.asJava(seq);
  }

  private static <T> Seq<T> seq(List<T> list) {
    return CollectionConverters.asScala(list).toSeq();
  }
}
