package zdss;

import java.util.ArrayList;
import java.util.EnumSet;
import java.util.HashMap;
import java.util.List;
import java.util.Map;
import java.util.Set;
import java.util.stream.Collectors;
import org.apache.spark.sql.connector.catalog.SupportsRead;
import org.apache.spark.sql.connector.catalog.Table;
import org.apache.spark.sql.connector.catalog.TableCapability;
import org.apache.spark.sql.connector.catalog.TableProvider;
import org.apache.spark.sql.connector.expressions.NamedReference;
import org.apache.spark.sql.connector.expressions.Transform;
import org.apache.spark.sql.connector.expressions.aggregate.AggregateFunc;
import org.apache.spark.sql.connector.expressions.aggregate.Aggregation;
import org.apache.spark.sql.connector.expressions.aggregate.Count;
import org.apache.spark.sql.connector.expressions.aggregate.CountStar;
import org.apache.spark.sql.connector.read.Batch;
import org.apache.spark.sql.connector.read.InputPartition;
import org.apache.spark.sql.connector.read.PartitionReaderFactory;
import org.apache.spark.sql.connector.read.Scan;
import org.apache.spark.sql.connector.read.ScanBuilder;
import org.apache.spark.sql.connector.read.SupportsPushDownAggregates;
import org.apache.spark.sql.connector.read.SupportsPushDownFilters;
import org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns;
import org.apache.spark.sql.internal.connector.SupportsMetadata;
import org.apache.spark.sql.sources.Filter;
import org.apache.spark.sql.types.DataTypes;
import org.apache.spark.sql.types.StructField;
import org.apache.spark.sql.types.StructType;
import org.apache.spark.sql.util.CaseInsensitiveStringMap;
import scala.jdk.javaapi.CollectionConverters;

/**
 * {@code spark.read.format("zdss.ZarrProvider")}: a compiled DSv2 reader of a local Zarr v3
 * group of parallel 1-D arrays. It serves {@code ZarrTable.to_df}, which passes the schema from
 * {@code typemap.group_schema}, the {@code group} and the {@code task_slots} options and the
 * store path. Scans are columnar, prune columns and chunks (by chunk stats), and answer an
 * ungrouped {@code COUNT} from {@code zarr.json}; every pushed filter stays a post-scan filter.
 */
public final class ZarrProvider implements TableProvider {
  @Override
  public StructType inferSchema(CaseInsensitiveStringMap options) {
    throw new UnsupportedOperationException(
        "the Zarr JVM reader takes its schema from ZarrTable (typemap.group_schema)");
  }

  @Override
  public boolean supportsExternalMetadata() {
    return true;
  }

  @Override
  public Table getTable(StructType schema, Transform[] partitioning, Map<String, String> props) {
    return new ZarrTable(schema, new CaseInsensitiveStringMap(props));
  }

  /** The group as a table; its name keeps the scan node {@code BatchScan zarr...}. */
  static final class ZarrTable implements Table, SupportsRead {
    private final StructType schema;
    private final String store;
    private final String group;
    private final int slots;

    ZarrTable(StructType schema, CaseInsensitiveStringMap options) {
      this.schema = schema;
      this.store = options.get("path");
      this.group = options.getOrDefault("group", "/");
      this.slots = options.getInt("task_slots", Runtime.getRuntime().availableProcessors());
    }

    @Override
    public String name() {
      return "zarr";
    }

    @Override
    @SuppressWarnings("deprecation") // the Spark 4 successor, columns(), derives from it
    public StructType schema() {
      return schema;
    }

    @Override
    public Set<TableCapability> capabilities() {
      return EnumSet.of(TableCapability.BATCH_READ);
    }

    @Override
    public ScanBuilder newScanBuilder(CaseInsensitiveStringMap options) {
      return new Builder(this, ZarrArray.openGroup(store, group));
    }
  }

  /** One per query: pushed filters and pruned columns never reach another query. */
  static final class Builder
      implements SupportsPushDownFilters, SupportsPushDownRequiredColumns,
          SupportsPushDownAggregates {
    private final ZarrTable table;
    private final Map<String, ZarrArray> arrays;
    private StructType required;
    private Filter[] pushed = new Filter[0];
    private final List<Stats> prunes = new ArrayList<>();
    private StructType counts;

    Builder(ZarrTable table, Map<String, ZarrArray> arrays) {
      this.table = table;
      this.arrays = arrays;
      this.required = table.schema;
      for (StructField f : table.schema.fields()) {
        ZarrArray a = arrays.get(f.name());
        if (a == null) {
          throw new ZarrException("zarr group has no array named " + f.name());
        }
        if (!a.sparkType().equals(f.dataType())) {
          throw new ZarrException("array " + f.name() + " of dtype " + a.kind
              + " cannot be read as " + f.dataType().simpleString());
        }
      }
    }

    @Override
    public Filter[] pushFilters(Filter[] filters) {
      Map<String, ZarrArray> byName = new HashMap<>();
      for (StructField f : table.schema.fields()) {
        ZarrArray a = arrays.get(f.name());
        byName.put(f.name(), a);
        byName.put("`" + f.name().replace("`", "``") + "`", a);
      }
      List<Filter> used = new ArrayList<>();
      for (Filter f : filters) {
        Stats s = Stats.of(f, byName);
        if (s != null) {
          prunes.add(s);
          used.add(f);
        }
      }
      pushed = used.toArray(new Filter[0]);
      return filters; // Spark evaluates every row filter; the stats only skip chunks
    }

    @Override
    public Filter[] pushedFilters() {
      return pushed;
    }

    @Override
    public void pruneColumns(StructType requiredSchema) {
      required = requiredSchema;
    }

    /** An ungrouped COUNT(*) or COUNT(col) (no DISTINCT): every column is non-nullable. */
    @Override
    public boolean pushAggregation(Aggregation aggregation) {
      if (!supportCompletePushDown(aggregation)) {
        return false;
      }
      List<StructField> out = new ArrayList<>();
      for (AggregateFunc f : aggregation.aggregateExpressions()) {
        out.add(DataTypes.createStructField(f.toString(), DataTypes.LongType, false));
      }
      counts = DataTypes.createStructType(out);
      return true;
    }

    @Override
    public boolean supportCompletePushDown(Aggregation aggregation) {
      if (aggregation.groupByExpressions().length > 0) {
        return false;
      }
      for (AggregateFunc f : aggregation.aggregateExpressions()) {
        boolean ok = f instanceof CountStar
            || (f instanceof Count && !((Count) f).isDistinct()
                && ((Count) f).column() instanceof NamedReference);
        if (!ok) {
          return false;
        }
      }
      return true;
    }

    @Override
    public Scan build() {
      return new ZarrScan(table, arrays, required, pushed, prunes, counts);
    }
  }

  /** The partition ranges of one query and the factory of their readers. */
  static final class ZarrScan implements Scan, Batch, SupportsMetadata {
    private final ZarrTable table;
    private final List<ZarrArray> columns;
    private final StructType readSchema;
    private final Filter[] pushed;
    private final List<Stats> prunes;
    private final StructType counts;
    private final long nRows;
    /** Partitions align to the largest chunk among the read columns. */
    private final int step;

    ZarrScan(ZarrTable table, Map<String, ZarrArray> arrays, StructType required,
        Filter[] pushed, List<Stats> prunes, StructType counts) {
      this.table = table;
      this.columns = new ArrayList<>();
      for (StructField f : required.fields()) {
        columns.add(arrays.get(f.name()));
      }
      this.readSchema = counts != null ? counts : required;
      this.pushed = pushed;
      this.prunes = prunes;
      this.counts = counts;
      this.nRows = arrays.values().iterator().next().nRows;
      // with no column to read, align as if reading all of them (ZarrReader's schema)
      List<ZarrArray> lead = columns.isEmpty()
          ? List.of(table.schema.fields()).stream().map(f -> arrays.get(f.name()))
              .collect(Collectors.toList())
          : columns;
      this.step = lead.stream().mapToInt(a -> a.chunkRows).max().orElse(1);
    }

    @Override
    public StructType readSchema() {
      return readSchema;
    }

    @Override
    public String description() {
      return "ZarrScan " + table.store + " group=" + table.group;
    }

    @Override
    public scala.collection.immutable.Map<String, String> getMetaData() {
      Map<String, String> meta = new HashMap<>();
      meta.put("Location", table.store + " group=" + table.group);
      meta.put("ReadSchema", readSchema.catalogString());
      meta.put("PushedFilters", List.of(pushed).toString());
      if (counts != null) {
        meta.put("PushedAggregates", List.of(counts.fieldNames()).toString());
      }
      return scala.collection.immutable.Map$.MODULE$.from(CollectionConverters.asScala(meta));
    }

    @Override
    public Batch toBatch() {
      return this;
    }

    /**
     * {@code plan_partitions} with {@code partition_rows=None}: the chunks that survive pruning
     * are dealt out as {@code min(chunks, slots)} contiguous runs (more when a run would exceed
     * {@code DEFAULT_PARTITION_ROWS}) whose chunk counts differ by at most one.
     */
    @Override
    public InputPartition[] planInputPartitions() {
      if (counts != null) {
        return new InputPartition[] {new ZarrReader.Range(0, 0)};
      }
      List<long[]> spans = new ArrayList<>();
      for (long lo = 0; lo < nRows; lo += step) {
        long hi = Math.min(lo + step, nRows);
        if (ZarrReader.mayMatch(prunes, lo, hi)) {
          spans.add(new long[] {lo, hi});
        }
      }
      if (spans.isEmpty()) {
        return new InputPartition[] {new ZarrReader.Range(0, 0)};
      }
      long cap = Math.max(1, ZarrReader.DEFAULT_PARTITION_ROWS / step);
      int n = spans.size();
      int parts = (int) Math.min(n, Math.max(table.slots, (n + cap - 1) / cap));
      InputPartition[] out = new InputPartition[parts];
      int q = n / parts;
      int r = n % parts;
      int i = 0;
      for (int k = 0; k < parts; k++) {
        int j = i + q + (k < r ? 1 : 0);
        out[k] = new ZarrReader.Range(spans.get(i)[0], spans.get(j - 1)[1]);
        i = j;
      }
      return out;
    }

    @Override
    public PartitionReaderFactory createReaderFactory() {
      return new ZarrReader.Factory(columns, readSchema, prunes, step, counts == null ? -1 : nRows);
    }
  }
}
