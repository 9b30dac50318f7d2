package zdss;

import com.fasterxml.jackson.core.json.JsonReadFeature;
import com.fasterxml.jackson.databind.JsonNode;
import com.fasterxml.jackson.databind.json.JsonMapper;
import com.github.luben.zstd.Zstd;
import com.github.luben.zstd.ZstdInputStreamNoFinalizer;
import java.io.ByteArrayInputStream;
import java.io.IOException;
import java.io.InputStream;
import java.io.Serializable;
import java.io.UncheckedIOException;
import java.lang.invoke.MethodHandles;
import java.lang.invoke.VarHandle;
import java.math.BigDecimal;
import java.math.BigInteger;
import java.nio.ByteOrder;
import java.nio.file.Files;
import java.nio.file.NoSuchFileException;
import java.nio.file.Path;
import java.nio.file.Paths;
import java.util.ArrayList;
import java.util.List;
import java.util.Map;
import java.util.TreeMap;
import java.util.zip.CRC32C;
import java.util.zip.GZIPInputStream;
import org.apache.spark.sql.execution.vectorized.WritableColumnVector;
import org.apache.spark.sql.types.DataType;
import org.apache.spark.sql.types.DataTypes;
import org.apache.spark.sql.types.Decimal;

/**
 * One 1-D Zarr v3 array: its {@code zarr.json} and the decode of its chunks into the Spark
 * type the Python type map ({@code typemap._SPARK_ARROW}) gives its dtype. The decode mirrors
 * {@code zarrv3.ZarrArrayMeta.decode_chunk}: codecs {@code bytes} (either endian), {@code zstd},
 * {@code gzip}, {@code crc32c}, {@code vlen-utf8}/{@code vlen-bytes} and {@code
 * sharding_indexed}; a missing chunk file (or inner chunk) reads as the fill value; a chunk the
 * Python reader rejects raises {@link ZarrException} here too.
 */
final class ZarrArray implements Serializable {
  private static final long serialVersionUID = 1L;

  static final JsonMapper JSON =
      JsonMapper.builder().enable(JsonReadFeature.ALLOW_NON_NUMERIC_NUMBERS).build();
  private static final VarHandle I16 = le(short[].class);
  private static final VarHandle I32 = le(int[].class);
  private static final VarHandle I64 = le(long[].class);
  private static final VarHandle F32 = le(float[].class);
  private static final VarHandle F64 = le(double[].class);

  /** Value bytes of each fixed-width kind. */
  private static final Map<String, Integer> FIXED = Map.ofEntries(
      Map.entry("bool", 1), Map.entry("int8", 1), Map.entry("int16", 2), Map.entry("int32", 4),
      Map.entry("int64", 8), Map.entry("uint8", 1), Map.entry("uint16", 2),
      Map.entry("uint32", 4), Map.entry("uint64", 8), Map.entry("float16", 2),
      Map.entry("float32", 4), Map.entry("float64", 8));

  /** One entry of a codec chain; {@code bigEndian} only matters for {@code bytes}. */
  record Codec(String name, boolean bigEndian) implements Serializable {}

  final String name;
  final long nRows;
  final int chunkRows;
  /** {@code bool}, {@code int8} ... {@code float64}, {@code string}, {@code bytes}, {@code raw} or
   * {@code datetime64}. */
  final String kind;
  /** Datetime unit ({@code s}, {@code ms}, {@code us}, {@code ns}) or null. */
  final String unit;
  /** Bytes per value of a fixed-width kind; 0 for VLen kinds. */
  final int itemSize;
  /** Chunk statistics (see {@link Stats#normalize}), or null when the array has none. */
  final Object[] statMin;
  final Object[] statMax;
  private final String dir;
  private final String separator;
  private final List<Codec> codecs;
  private final Object fill;
  // sharding_indexed: inner chunk rows (0 when not sharded), inner chain, index layout
  private final int innerRows;
  private final List<Codec> innerCodecs;
  private final List<String> indexCodecs;
  private final boolean indexAtStart;

  private ZarrArray(String dir, String name, JsonNode doc) {
    this.dir = dir;
    this.name = name;
    if (doc.path("zarr_format").asInt() != 3 || !"array".equals(doc.path("node_type").asText())) {
      throw new ZarrException(dir + "/zarr.json is not a Zarr v3 array");
    }
    JsonNode shape = doc.path("shape");
    if (shape.size() != 1) {
      throw new ZarrException("array " + name + " has rank " + shape.size()
          + "; the table model requires parallel 1-D arrays");
    }
    nRows = shape.get(0).asLong();
    JsonNode grid = doc.path("chunk_grid");
    if (!"regular".equals(grid.path("name").asText())) {
      throw new ZarrException("unsupported chunk grid: " + grid.path("name").asText());
    }
    chunkRows = Math.toIntExact(grid.path("configuration").path("chunk_shape").path(0).asLong());
    separator = doc.path("chunk_key_encoding").path("configuration").path("separator").asText("/");
    JsonNode dtype = doc.path("data_type");
    if (dtype.isObject()) {
      String ext = dtype.path("name").asText();
      JsonNode cfg = dtype.path("configuration");
      if (!"numpy.datetime64".equals(ext)) {
        throw new ZarrException("unsupported extension data type: " + ext);
      }
      unit = cfg.path("unit").asText();
      if (!List.of("s", "ms", "us", "ns").contains(unit)) {
        throw new ZarrException("unsupported numpy.datetime64 unit " + unit);
      }
      if (cfg.path("scale_factor").asLong(1) != 1) {
        throw new ZarrException("numpy.datetime64 scale_factor != 1 unsupported");
      }
      kind = "datetime64";
      itemSize = 8;
    } else {
      String t = dtype.asText();
      unit = null;
      if (FIXED.containsKey(t)) {
        kind = t;
        itemSize = FIXED.get(t);
      } else if (t.equals("string") || t.equals("bytes")) {
        kind = t;
        itemSize = 0;
      } else if (t.matches("r[0-9]+") && Integer.parseInt(t.substring(1)) % 8 == 0) {
        kind = "raw";
        itemSize = Integer.parseInt(t.substring(1)) / 8;
      } else {
        throw new ZarrException("unsupported Zarr data type: " + t);
      }
    }
    codecs = chain(doc.path("codecs"));
    JsonNode shard = doc.path("codecs").path(0);
    if ("sharding_indexed".equals(shard.path("name").asText())) {
      JsonNode cfg = shard.path("configuration");
      innerRows = Math.toIntExact(cfg.path("chunk_shape").path(0).asLong());
      innerCodecs = chain(cfg.path("codecs"));
      indexCodecs = new ArrayList<>();
      cfg.path("index_codecs").forEach(c -> indexCodecs.add(c.path("name").asText()));
      indexAtStart = "start".equals(cfg.path("index_location").asText("end"));
    } else {
      innerRows = 0;
      innerCodecs = null;
      indexCodecs = null;
      indexAtStart = false;
    }
    fill = Stats.plain(doc.get("fill_value"));
    JsonNode stats = doc.path("attributes").path("zdss:chunk_stats");
    if (stats.path("min").isArray() && stats.path("max").isArray()) {
      statMin = Stats.normalize(stats.get("min"));
      statMax = Stats.normalize(stats.get("max"));
    } else {
      statMin = statMax = null; // missing or malformed: never prune
    }
  }

  private static VarHandle le(Class<?> arrayType) {
    return MethodHandles.byteArrayViewVarHandle(arrayType, ByteOrder.LITTLE_ENDIAN);
  }

  private static List<Codec> chain(JsonNode codecs) {
    List<Codec> out = new ArrayList<>();
    for (JsonNode c : codecs) {
      boolean big = "big".equals(c.path("configuration").path("endian").asText("little"));
      out.add(new Codec(c.path("name").asText(), big));
    }
    return out;
  }

  static JsonNode readJson(Path path) {
    try {
      return JSON.readTree(Files.readAllBytes(path));
    } catch (NoSuchFileException e) {
      throw new ZarrException("no zarr.json at " + path);
    } catch (IOException e) {
      throw new UncheckedIOException(e);
    }
  }

  /**
   * The arrays of a group, by name: its immediate children whose {@code zarr.json} is an array
   * node, as {@code zarrv3.open_group} finds them.
   */
  static Map<String, ZarrArray> openGroup(String store, String group) {
    String rel = group.replaceAll("^/+|/+$", "");
    Path groupDir = rel.isEmpty() ? Paths.get(store) : Paths.get(store, rel);
    JsonNode doc = readJson(groupDir.resolve("zarr.json"));
    if (doc.path("zarr_format").asInt() != 3 || !"group".equals(doc.path("node_type").asText())) {
      throw new ZarrException(groupDir + "/zarr.json is not a Zarr v3 group");
    }
    Map<String, ZarrArray> arrays = new TreeMap<>();
    try (var entries = Files.list(groupDir)) {
      for (Path child : (Iterable<Path>) entries::iterator) {
        Path meta = child.resolve("zarr.json");
        if (!Files.isDirectory(child) || !Files.exists(meta)) {
          continue;
        }
        JsonNode childDoc = readJson(meta);
        if ("array".equals(childDoc.path("node_type").asText())) {
          String name = child.getFileName().toString();
          arrays.put(name, new ZarrArray(child.toString(), name, childDoc));
        }
      }
    } catch (IOException e) {
      throw new UncheckedIOException(e);
    }
    if (arrays.isEmpty()) {
      throw new ZarrException("group " + group + " contains no 1-D arrays");
    }
    if (arrays.values().stream().mapToLong(a -> a.nRows).distinct().count() > 1) {
      throw new ZarrException("group arrays disagree on length");
    }
    return arrays;
  }

  /** The Spark type {@code typemap.zarr_to_spark_field} gives this array. */
  DataType sparkType() {
    switch (kind) {
      case "bool": return DataTypes.BooleanType;
      case "int8": return DataTypes.ByteType;
      case "int16": case "uint8": return DataTypes.ShortType;
      case "int32": case "uint16": return DataTypes.IntegerType;
      case "int64": case "uint32": return DataTypes.LongType;
      case "uint64": return DataTypes.createDecimalType(20, 0);
      case "float16": case "float32": return DataTypes.FloatType;
      case "float64": return DataTypes.DoubleType;
      case "string": return DataTypes.StringType;
      case "datetime64": return DataTypes.TimestampNTZType;
      default: return DataTypes.BinaryType; // bytes, raw
    }
  }

  boolean isVlen() {
    return itemSize == 0;
  }

  // -- decode ---------------------------------------------------------------------------------

  /**
   * Decoded values of one chunk: a primitive array in the Spark representation (boolean[],
   * byte[], short[], int[], long[], float[] or double[]; raw bits as a byte[] of {@code
   * itemSize} strides), or for VLen kinds one byte[] with a start and a length per value.
   */
  record Chunk(int rows, Object values, int[] starts, int[] lens) {}

  /** Chunk {@code index} ({@code rows} logical rows); a missing file is the fill value. */
  Chunk readChunk(long index, int rows) {
    byte[] raw;
    try {
      raw = Files.readAllBytes(Paths.get(dir, "c" + separator + index));
    } catch (NoSuchFileException e) {
      return fill(rows);
    } catch (IOException e) {
      throw new UncheckedIOException(e);
    }
    return innerRows > 0 ? decodeShard(raw, rows) : decode(raw, 0, raw.length, rows, codecs);
  }

  private Chunk decode(byte[] buf, int off, int len, int rows, List<Codec> chain) {
    Codec arrayCodec = null;
    // bytes->bytes codecs run last on encode, so undo them first
    for (int i = chain.size() - 1; i >= 0; i--) {
      Codec c = chain.get(i);
      switch (c.name()) {
        case "zstd":
          buf = zstd(buf, off, len);
          off = 0;
          len = buf.length;
          break;
        case "gzip":
          try {
            buf = inflate(new GZIPInputStream(new ByteArrayInputStream(buf, off, len), 65536));
          } catch (IOException e) {
            throw new ZarrException("corrupt gzip chunk in array " + name + ": " + e.getMessage());
          }
          off = 0;
          len = buf.length;
          break;
        case "crc32c":
          if (len < 4) {
            throw new ZarrException("crc32c chunk of " + len + " bytes in array " + name);
          }
          len -= 4;
          verifyCrc32c(buf, off, len, "array " + name);
          break;
        case "bytes": case "vlen-utf8": case "vlen-bytes":
          arrayCodec = c;
          break;
        case "transpose": case "sharding_indexed": case "blosc":
          throw new ZarrException("unsupported codec: " + c.name());
        default:
          throw new ZarrException("unknown codec: " + c.name());
      }
    }
    if (arrayCodec == null) {
      throw new ZarrException("array " + name + " has no array->bytes codec");
    }
    if (!arrayCodec.name().equals("bytes")) {
      if (!isVlen()) {
        throw new ZarrException(arrayCodec.name() + " codec on " + kind + " array " + name);
      }
      return decodeVlen(buf, off, len, rows);
    }
    if (isVlen()) {
      throw new ZarrException("no fixed numpy dtype for " + kind + " (array " + name + ")");
    }
    if (len % itemSize != 0 || len / itemSize < rows) {
      throw new ZarrException("chunk of " + len + " bytes in array " + name + " does not hold "
          + rows + " " + kind + " values");
    }
    if (arrayCodec.bigEndian() && itemSize > 1) {
      byte[] swapped = new byte[rows * itemSize];
      for (int i = 0; i < swapped.length; i += itemSize) {
        for (int k = 0; k < itemSize; k++) {
          swapped[i + k] = buf[off + i + itemSize - 1 - k];
        }
      }
      buf = swapped;
      off = 0;
    }
    return typed(buf, off, rows);
  }

  /** {@code rows} little-endian values of this kind, converted to the Spark representation. */
  private Chunk typed(byte[] b, int off, int rows) {
    Object v;
    switch (kind) {
      case "bool": {
        boolean[] out = new boolean[rows];
        for (int i = 0; i < rows; i++) out[i] = b[off + i] != 0;
        v = out;
        break;
      }
      case "int8": case "raw":
        v = java.util.Arrays.copyOfRange(b, off, off + rows * itemSize);
        break;
      case "int16": {
        short[] out = new short[rows];
        for (int i = 0; i < rows; i++) out[i] = (short) I16.get(b, off + 2 * i);
        v = out;
        break;
      }
      case "uint8": {
        short[] out = new short[rows];
        for (int i = 0; i < rows; i++) out[i] = (short) (b[off + i] & 0xFF);
        v = out;
        break;
      }
      case "int32": {
        int[] out = new int[rows];
        for (int i = 0; i < rows; i++) out[i] = (int) I32.get(b, off + 4 * i);
        v = out;
        break;
      }
      case "uint16": {
        int[] out = new int[rows];
        for (int i = 0; i < rows; i++) out[i] = ((short) I16.get(b, off + 2 * i)) & 0xFFFF;
        v = out;
        break;
      }
      case "uint32": {
        long[] out = new long[rows];
        for (int i = 0; i < rows; i++) out[i] = ((int) I32.get(b, off + 4 * i)) & 0xFFFFFFFFL;
        v = out;
        break;
      }
      case "int64": case "uint64": case "datetime64": {
        long[] out = new long[rows];
        for (int i = 0; i < rows; i++) out[i] = (long) I64.get(b, off + 8 * i);
        if (unit != null) toMicros(out);
        v = out;
        break;
      }
      case "float16": {
        float[] out = new float[rows];
        for (int i = 0; i < rows; i++) out[i] = halfToFloat((short) I16.get(b, off + 2 * i));
        v = out;
        break;
      }
      case "float32": {
        float[] out = new float[rows];
        for (int i = 0; i < rows; i++) out[i] = (float) F32.get(b, off + 4 * i);
        v = out;
        break;
      }
      case "float64": {
        double[] out = new double[rows];
        for (int i = 0; i < rows; i++) out[i] = (double) F64.get(b, off + 8 * i);
        v = out;
        break;
      }
      default:
        throw new ZarrException("unsupported Zarr dtype " + kind);
    }
    return new Chunk(rows, v, null, null);
  }

  /**
   * Epoch ticks in {@link #unit} to Spark's microseconds, raising where Arrow's safe cast does:
   * on overflow, and for nanoseconds that are not whole microseconds.
   */
  private void toMicros(long[] ticks) {
    try {
      for (int i = 0; i < ticks.length; i++) {
        long t = ticks[i];
        switch (unit) {
          case "s": ticks[i] = Math.multiplyExact(t, 1_000_000L); break;
          case "ms": ticks[i] = Math.multiplyExact(t, 1_000L); break;
          case "ns":
            if (t % 1000 != 0) {
              throw new ZarrException("timestamp of " + t + " ns in array " + name
                  + " would lose data as microseconds");
            }
            ticks[i] = t / 1000;
            break;
          default: break;
        }
      }
    } catch (ArithmeticException e) {
      throw new ZarrException("timestamp out of the microsecond range in array " + name);
    }
  }

  /** IEEE 754 half-precision bits to float (exact). */
  static float halfToFloat(short h) {
    int sign = (h & 0x8000) << 16;
    int exp = (h >>> 10) & 0x1F;
    int mant = h & 0x3FF;
    if (exp == 0x1F) {
      return Float.intBitsToFloat(sign | 0x7F800000 | (mant << 13));
    }
    if (exp == 0) {
      float f = mant * 0x1p-24f; // subnormal (or zero)
      return sign == 0 ? f : -f;
    }
    return Float.intBitsToFloat(sign | ((exp + 112) << 23) | (mant << 13));
  }

  /**
   * A numcodecs VLen chunk: a u32 item count, then a u32 length and the bytes of each item.
   * String items must be valid UTF-8 (Arrow's full validation of the Python decode).
   */
  private Chunk decodeVlen(byte[] b, int off, int len, int rows) {
    int end = off + len;
    if (len < 4) {
      throw new ZarrException("VLen chunk of " + len + " bytes has no item count");
    }
    long n = (int) I32.get(b, off) & 0xFFFFFFFFL;
    if (n < rows || n > len) {
      throw new ZarrException("corrupt VLen chunk in array " + name + ": " + n
          + " items, expected " + rows);
    }
    int[] starts = new int[rows];
    int[] lens = new int[rows];
    boolean utf8 = kind.equals("string");
    int p = off + 4;
    for (int i = 0; i < n; i++) {
      if (end - p < 4) {
        throw new ZarrException("corrupt VLen chunk in array " + name + ": truncated at item " + i);
      }
      long l = (int) I32.get(b, p) & 0xFFFFFFFFL;
      p += 4;
      if (l > end - p) {
        throw new ZarrException("corrupt VLen chunk in array " + name + ": item " + i
            + " overruns the chunk");
      }
      if (utf8 && !validUtf8(b, p, p + (int) l)) {
        throw new ZarrException("invalid UTF-8 in VLen chunk of array " + name);
      }
      if (i < rows) {
        starts[i] = p;
        lens[i] = (int) l;
      }
      p += (int) l;
    }
    return new Chunk(rows, b, starts, lens);
  }

  static boolean validUtf8(byte[] b, int i, int end) {
    while (i < end) {
      int c = b[i] & 0xFF;
      if (c < 0x80) {
        i++;
        continue;
      }
      if (c < 0xC2 || c > 0xF4) {
        return false;
      }
      int n = c < 0xE0 ? 1 : c < 0xF0 ? 2 : 3;
      int lo = c == 0xE0 ? 0xA0 : c == 0xF0 ? 0x90 : 0x80;
      int hi = c == 0xED ? 0x9F : c == 0xF4 ? 0x8F : 0xBF;
      if (end - i <= n) {
        return false;
      }
      int c1 = b[i + 1] & 0xFF;
      if (c1 < lo || c1 > hi) {
        return false;
      }
      for (int k = 2; k <= n; k++) {
        if ((b[i + k] & 0xC0) != 0x80) {
          return false;
        }
      }
      i += n + 1;
    }
    return true;
  }

  /**
   * A {@code sharding_indexed} shard: inner chunks packed into one object with a u64 (offset,
   * nbytes) index at its start or end; an inner chunk whose entry is all ones is missing.
   */
  private Chunk decodeShard(byte[] raw, int rows) {
    if (chunkRows % innerRows != 0) {
      throw new ZarrException("shard rows " + chunkRows + " not a multiple of inner chunk rows "
          + innerRows);
    }
    int nInner = chunkRows / innerRows;
    int idxSize = nInner * 16;
    boolean checksummed = false;
    for (String c : indexCodecs) {
      if (c.equals("crc32c")) {
        idxSize += 4;
        checksummed = true;
      } else if (!c.equals("bytes")) {
        throw new ZarrException("unsupported index codec: " + c);
      }
    }
    if (raw.length < idxSize) {
      throw new ZarrException("shard of " + raw.length + " bytes in array " + name
          + " is shorter than its index");
    }
    int idx = indexAtStart ? 0 : raw.length - idxSize;
    if (checksummed) {
      verifyCrc32c(raw, idx, nInner * 16, "shard index of array " + name);
    }
    List<Chunk> pieces = new ArrayList<>();
    int produced = 0;
    for (int i = 0; i < nInner && produced < rows; i++) {
      int take = Math.min(innerRows, rows - produced);
      long off = (long) I64.get(raw, idx + 16 * i);
      long nb = (long) I64.get(raw, idx + 16 * i + 8);
      if (off == -1L && nb == -1L) {
        pieces.add(fill(take));
      } else if (off < 0 || nb < 0 || off + nb > raw.length) {
        throw new ZarrException("shard index of array " + name + " points outside the shard");
      } else {
        pieces.add(decode(raw, (int) off, (int) nb, take, innerCodecs));
      }
      produced += take;
    }
    return concat(pieces, rows);
  }

  private Chunk concat(List<Chunk> pieces, int rows) {
    if (pieces.size() == 1) {
      return pieces.get(0);
    }
    if (isVlen()) {
      int total = 0;
      for (Chunk c : pieces) {
        for (int i = 0; i < c.rows(); i++) total += c.lens()[i];
      }
      byte[] data = new byte[total];
      int[] starts = new int[rows];
      int[] lens = new int[rows];
      int row = 0;
      int at = 0;
      for (Chunk c : pieces) {
        for (int i = 0; i < c.rows(); i++, row++) {
          System.arraycopy((byte[]) c.values(), c.starts()[i], data, at, c.lens()[i]);
          starts[row] = at;
          lens[row] = c.lens()[i];
          at += c.lens()[i];
        }
      }
      return new Chunk(rows, data, starts, lens);
    }
    int stride = kind.equals("raw") ? itemSize : 1;
    Object out = java.lang.reflect.Array.newInstance(
        pieces.get(0).values().getClass().getComponentType(), rows * stride);
    int at = 0;
    for (Chunk c : pieces) {
      System.arraycopy(c.values(), 0, out, at, c.rows() * stride);
      at += c.rows() * stride;
    }
    return new Chunk(rows, out, null, null);
  }

  /** {@code rows} copies of the fill value (a null fill is zero, or the empty string). */
  Chunk fill(int rows) {
    if (isVlen()) {
      if (fill != null && !(fill instanceof String)) {
        throw new ZarrException("fill value " + fill + " of array " + name + " is not a string");
      }
      byte[] one = fill == null ? new byte[0]
          : ((String) fill).getBytes(java.nio.charset.StandardCharsets.UTF_8);
      int[] lens = new int[rows];
      java.util.Arrays.fill(lens, one.length);
      return new Chunk(rows, one, new int[rows], lens);
    }
    if (kind.equals("raw")) {
      if (fill != null && !BigDecimal.ZERO.equals(fill)) {
        throw new ZarrException("unsupported fill value for raw array " + name);
      }
      return new Chunk(rows, new byte[rows * itemSize], null, null);
    }
    byte[] one = new byte[itemSize];
    if (kind.startsWith("float")) {
      double d = fillDouble();
      if (itemSize == 2) {
        I16.set(one, 0, floatToHalf(d));
      } else if (itemSize == 4) {
        F32.set(one, 0, (float) d);
      } else {
        F64.set(one, 0, d);
      }
    } else {
      BigInteger v = fillInteger();
      BigInteger max = BigInteger.ONE.shiftLeft(8 * itemSize - (kind.startsWith("u") ? 0 : 1));
      BigInteger min = kind.startsWith("u") || kind.equals("bool") ? BigInteger.ZERO : max.negate();
      if (v.compareTo(min) < 0 || v.compareTo(max) >= 0) {
        throw new ZarrException("fill value " + v + " out of range for " + kind + " array " + name);
      }
      long bits = v.longValue();
      for (int k = 0; k < itemSize; k++) one[k] = (byte) (bits >>> (8 * k));
    }
    byte[] all = new byte[rows * itemSize];
    for (int i = 0; i < all.length; i += itemSize) System.arraycopy(one, 0, all, i, itemSize);
    return typed(all, 0, rows);
  }

  private double fillDouble() {
    if (fill == null) return 0.0;
    if (fill instanceof BigDecimal) return ((BigDecimal) fill).doubleValue();
    if (fill instanceof Double) return (Double) fill;
    if (fill instanceof String) {
      switch ((String) fill) {
        case "NaN": return Double.NaN;
        case "Infinity": return Double.POSITIVE_INFINITY;
        case "-Infinity": return Double.NEGATIVE_INFINITY;
        default: break;
      }
    }
    throw new ZarrException("unsupported fill value " + fill + " for array " + name);
  }

  private BigInteger fillInteger() {
    if (fill == null) return BigInteger.ZERO;
    if (fill instanceof Boolean) return ((Boolean) fill) ? BigInteger.ONE : BigInteger.ZERO;
    if (fill instanceof BigDecimal) {
      try {
        return ((BigDecimal) fill).toBigIntegerExact();
      } catch (ArithmeticException e) {
        // fall through: not an integer
      }
    }
    throw new ZarrException("unsupported fill value " + fill + " for array " + name);
  }

  /** Double to IEEE 754 half bits, rounding to nearest even (numpy's float16 cast). */
  static short floatToHalf(double d) {
    if (Double.isNaN(d)) return (short) 0x7E00;
    int sign = d < 0 || (d == 0 && 1 / d < 0) ? 0x8000 : 0;
    double a = Math.abs(d);
    if (a >= 65520.0) return (short) (sign | 0x7C00); // rounds to infinity
    if (a < 0x1p-14) {
      return (short) (sign | (int) Math.rint(a * 0x1p24)); // subnormal; rint rounds half even
    }
    int exp = Math.getExponent(a);
    int mant = (int) Math.rint(Math.scalb(a, 10 - exp)) - 1024; // 10 fraction bits
    if (mant == 1024) {
      mant = 0;
      exp++;
    }
    return (short) (sign | ((exp + 15) << 10) | mant);
  }

  // -- byte-level helpers --------------------------------------------------------------------

  private byte[] inflate(InputStream in) {
    try (in) {
      return in.readAllBytes();
    } catch (IOException e) {
      throw new ZarrException("corrupt chunk in array " + name + ": " + e.getMessage());
    }
  }

  private byte[] zstd(byte[] src, int off, int len) {
    try {
      long size = Zstd.getFrameContentSize(src, off, len);
      if (size >= 0 && size < Integer.MAX_VALUE && Zstd.findFrameCompressedSize(src, off, len) == len) {
        byte[] dst = new byte[(int) size];
        long got = Zstd.decompressByteArray(dst, 0, dst.length, src, off, len);
        if (Zstd.isError(got) || got != size) {
          throw new ZarrException("corrupt zstd chunk in array " + name);
        }
        return dst;
      }
    } catch (RuntimeException e) {
      throw e instanceof ZarrException ? e
          : new ZarrException("corrupt zstd chunk in array " + name + ": " + e.getMessage());
    }
    // no content size in the frame header, or several frames: stream it
    try {
      return inflate(new ZstdInputStreamNoFinalizer(new ByteArrayInputStream(src, off, len)));
    } catch (IOException e) {
      throw new ZarrException("corrupt zstd chunk in array " + name + ": " + e.getMessage());
    }
  }

  private static void verifyCrc32c(byte[] b, int off, int len, String what) {
    CRC32C crc = new CRC32C();
    crc.update(b, off, len);
    int want = (int) I32.get(b, off + len);
    if ((int) crc.getValue() != want) {
      throw new ZarrException(String.format(
          "crc32c mismatch in %s: stored %#010x, computed %#010x - chunk data is corrupted",
          what, want, (int) crc.getValue()));
    }
  }

  // -- into Spark vectors --------------------------------------------------------------------

  /** Rows {@code [from, from + count)} of {@code c} into {@code v} from row {@code at}. */
  void write(Chunk c, WritableColumnVector v, int at, int from, int count) {
    Object vals = c.values();
    if (c.starts() != null) {
      byte[] data = (byte[]) vals;
      for (int i = 0; i < count; i++) v.putByteArray(at + i, data, c.starts()[from + i], c.lens()[from + i]);
    } else if (kind.equals("raw")) {
      for (int i = 0; i < count; i++) v.putByteArray(at + i, (byte[]) vals, (from + i) * itemSize, itemSize);
    } else if (kind.equals("uint64")) {
      long[] bits = (long[]) vals;
      for (int i = 0; i < count; i++) {
        BigInteger u = new BigInteger(Long.toUnsignedString(bits[from + i]));
        v.putDecimal(at + i, Decimal.apply(new BigDecimal(u)), 20);
      }
    } else if (vals instanceof boolean[]) {
      boolean[] b = (boolean[]) vals;
      for (int i = 0; i < count; i++) v.putBoolean(at + i, b[from + i]);
    } else if (vals instanceof byte[]) {
      v.putBytes(at, count, (byte[]) vals, from);
    } else if (vals instanceof short[]) {
      v.putShorts(at, count, (short[]) vals, from);
    } else if (vals instanceof int[]) {
      v.putInts(at, count, (int[]) vals, from);
    } else if (vals instanceof long[]) {
      v.putLongs(at, count, (long[]) vals, from);
    } else if (vals instanceof float[]) {
      v.putFloats(at, count, (float[]) vals, from);
    } else {
      v.putDoubles(at, count, (double[]) vals, from);
    }
  }
}
