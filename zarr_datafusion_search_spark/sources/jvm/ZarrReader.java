package zdss;

import java.util.List;
import org.apache.spark.sql.catalyst.InternalRow;
import org.apache.spark.sql.connector.read.InputPartition;
import org.apache.spark.sql.connector.read.PartitionReader;
import org.apache.spark.sql.connector.read.PartitionReaderFactory;
import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector;
import org.apache.spark.sql.types.StructType;
import org.apache.spark.sql.vectorized.ColumnarBatch;

/** Executor side of the Zarr JVM reader: columnar batches of one row range. */
final class ZarrReader implements PartitionReader<ColumnarBatch> {
  /** {@code zarr_datasource.DEFAULT_PARTITION_ROWS}: the largest default partition. */
  static final long DEFAULT_PARTITION_ROWS = 1L << 21;

  /** Rows {@code [start, stop)}; a range may step over chunks that pruning dropped. */
  record Range(long start, long stop) implements InputPartition {}

  static boolean mayMatch(List<Stats> prunes, long lo, long hi) {
    for (Stats s : prunes) {
      if (!s.mayMatch(lo, hi)) {
        return false;
      }
    }
    return true;
  }

  static final class Factory implements PartitionReaderFactory {
    private static final long serialVersionUID = 1L;
    private final List<ZarrArray> columns;
    private final StructType schema;
    private final List<Stats> prunes;
    private final int step;
    /** Row count of a pushed-down COUNT, or -1 for a scan. */
    private final long count;

    Factory(List<ZarrArray> columns, StructType schema, List<Stats> prunes, int step, long count) {
      this.columns = columns;
      this.schema = schema;
      this.prunes = prunes;
      this.step = step;
      this.count = count;
    }

    @Override
    public PartitionReader<InternalRow> createReader(InputPartition partition) {
      throw new UnsupportedOperationException("the Zarr JVM reader is columnar");
    }

    @Override
    public boolean supportColumnarReads(InputPartition partition) {
      return true;
    }

    @Override
    public PartitionReader<ColumnarBatch> createColumnarReader(InputPartition partition) {
      return new ZarrReader(this, (Range) partition);
    }
  }

  private final Factory f;
  private final long stop;
  private long pos;
  private final OnHeapColumnVector[] vectors;
  private final ColumnarBatch batch;
  // per column: the last decoded chunk, reused when a column's chunks are larger than a slice
  private final long[] cachedIndex;
  private final ZarrArray.Chunk[] cached;

  private ZarrReader(Factory f, Range range) {
    this.f = f;
    this.pos = range.start();
    this.stop = range.stop();
    int capacity = f.count >= 0 ? 1 : Math.max(1, (int) Math.min(f.step, stop - pos));
    this.vectors = OnHeapColumnVector.allocateColumns(capacity, f.schema);
    this.batch = new ColumnarBatch(vectors);
    this.cachedIndex = new long[f.columns.size()];
    this.cached = new ZarrArray.Chunk[f.columns.size()];
    java.util.Arrays.fill(cachedIndex, -1);
  }

  /**
   * The next lead-chunk slice of the range that pruning keeps, as one batch (a slice starts
   * mid-chunk when the range does). A pushed-down COUNT is one batch of one row.
   */
  @Override
  public boolean next() {
    if (f.count >= 0) {
      if (pos > 0) {
        return false;
      }
      pos = 1;
      for (OnHeapColumnVector v : vectors) {
        v.putLong(0, f.count);
      }
      batch.setNumRows(1);
      return true;
    }
    while (pos < stop) {
      long lo = pos;
      long hi = Math.min((lo / f.step + 1) * f.step, stop);
      pos = hi;
      if (mayMatch(f.prunes, lo, hi)) {
        fill(lo, hi);
        return true;
      }
    }
    return false;
  }

  private void fill(long lo, long hi) {
    int rows = (int) (hi - lo);
    for (int c = 0; c < vectors.length; c++) {
      ZarrArray a = f.columns.get(c);
      OnHeapColumnVector v = vectors[c];
      v.reset();
      int at = 0;
      for (long r = lo; r < hi; ) {
        long index = r / a.chunkRows;
        long chunkStart = index * a.chunkRows;
        int chunkLen = (int) Math.min(a.chunkRows, a.nRows - chunkStart);
        if (cachedIndex[c] != index) {
          cached[c] = a.readChunk(index, chunkLen);
          cachedIndex[c] = index;
        }
        int count = (int) (Math.min(hi, chunkStart + chunkLen) - r);
        a.write(cached[c], v, at, (int) (r - chunkStart), count);
        at += count;
        r += count;
      }
    }
    batch.setNumRows(rows);
  }

  @Override
  public ColumnarBatch get() {
    return batch;
  }

  @Override
  public void close() {
    batch.close();
  }
}
