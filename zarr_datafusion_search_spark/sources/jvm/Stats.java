package zdss;

import com.fasterxml.jackson.databind.JsonNode;
import java.io.Serializable;
import java.math.BigDecimal;
import java.time.Instant;
import java.time.LocalDate;
import java.time.LocalDateTime;
import java.time.ZoneOffset;
import java.util.Map;
import org.apache.spark.sql.sources.EqualTo;
import org.apache.spark.sql.sources.Filter;
import org.apache.spark.sql.sources.GreaterThan;
import org.apache.spark.sql.sources.GreaterThanOrEqual;
import org.apache.spark.sql.sources.In;
import org.apache.spark.sql.sources.LessThan;
import org.apache.spark.sql.sources.LessThanOrEqual;

/**
 * Chunk pruning from the per-chunk min/max in an array's {@code zdss:chunk_stats} attribute,
 * with the rules of {@code ZarrReader._chunk_may_match} and {@code _stat_comparable}: a chunk is
 * skipped only when the stats prove no row of it can pass the filter. Missing, short or unknown
 * stats never prune. Numbers compare exactly, strings by code point, and datetimes as exact
 * ticks in the array's unit.
 */
final class Stats implements Serializable {
  private static final long serialVersionUID = 1L;

  private final ZarrArray array;
  private final String op;
  private final Object[] values;

  private Stats(ZarrArray array, String op, Object[] values) {
    this.array = array;
    this.op = op;
    this.values = values;
  }

  /**
   * The pruning rule of {@code f} over the arrays it may name ({@code byName} holds each array
   * under its name and its back-quoted name), or null when {@code f} cannot prune.
   */
  static Stats of(Filter f, Map<String, ZarrArray> byName) {
    String attr;
    Object[] raw;
    String op;
    if (f instanceof EqualTo) {
      attr = ((EqualTo) f).attribute();
      raw = new Object[] {((EqualTo) f).value()};
      op = "=";
    } else if (f instanceof GreaterThan) {
      attr = ((GreaterThan) f).attribute();
      raw = new Object[] {((GreaterThan) f).value()};
      op = ">";
    } else if (f instanceof GreaterThanOrEqual) {
      attr = ((GreaterThanOrEqual) f).attribute();
      raw = new Object[] {((GreaterThanOrEqual) f).value()};
      op = ">=";
    } else if (f instanceof LessThan) {
      attr = ((LessThan) f).attribute();
      raw = new Object[] {((LessThan) f).value()};
      op = "<";
    } else if (f instanceof LessThanOrEqual) {
      attr = ((LessThanOrEqual) f).attribute();
      raw = new Object[] {((LessThanOrEqual) f).value()};
      op = "<=";
    } else if (f instanceof In) {
      attr = ((In) f).attribute();
      raw = ((In) f).values();
      op = "in";
    } else {
      return null;
    }
    ZarrArray array = byName.get(attr);
    if (array == null || array.statMin == null) {
      return null;
    }
    Object[] values = new Object[raw.length];
    for (int i = 0; i < raw.length; i++) {
      values[i] = comparable(raw[i], array.unit == null ? "us" : array.unit);
      if (values[i] == null) {
        return null;
      }
    }
    return new Stats(array, op, values);
  }

  /** False only when the stats prove no row in {@code [lo, hi)} passes. */
  boolean mayMatch(long lo, long hi) {
    long crows = array.chunkRows;
    long first = lo / crows;
    long last = (hi - 1) / crows;
    if (array.statMin.length <= last || array.statMax.length <= last) {
      return true; // stats don't cover the range
    }
    for (long c = first; c <= last; c++) {
      Object mn = array.statMin[(int) c];
      Object mx = array.statMax[(int) c];
      if (mn == null || mx == null || chunkMayMatch(mn, mx)) {
        return true;
      }
    }
    return false;
  }

  private boolean chunkMayMatch(Object mn, Object mx) {
    Integer lo;
    Integer hi;
    switch (op) {
      case ">":
        hi = compare(mx, values[0]);
        return hi == null || hi > 0;
      case ">=":
        hi = compare(mx, values[0]);
        return hi == null || hi >= 0;
      case "<":
        lo = compare(mn, values[0]);
        return lo == null || lo < 0;
      case "<=":
        lo = compare(mn, values[0]);
        return lo == null || lo <= 0;
      default: // "=" and "in"
        for (Object v : values) {
          lo = compare(mn, v);
          hi = compare(v, mx);
          if (lo == null || hi == null || (lo <= 0 && hi <= 0)) {
            return true;
          }
        }
        return false;
    }
  }

  /** Sign of {@code a - b}, or null when the two do not compare (text against a number). */
  private static Integer compare(Object a, Object b) {
    if (a instanceof String && b instanceof String) {
      return Integer.signum(compareCodePoints((String) a, (String) b));
    }
    if (a instanceof String || b instanceof String) {
      return null;
    }
    if (a instanceof Double || b instanceof Double) { // an infinity
      return Double.compare(rank(a), rank(b));
    }
    return ((BigDecimal) a).compareTo((BigDecimal) b);
  }

  private static double rank(Object x) {
    return x instanceof Double ? (Double) x : Math.signum(((BigDecimal) x).signum());
  }

  private static int compareCodePoints(String a, String b) {
    int i = 0;
    int j = 0;
    while (i < a.length() && j < b.length()) {
      int ca = a.codePointAt(i);
      int cb = b.codePointAt(j);
      if (ca != cb) {
        return Integer.compare(ca, cb);
      }
      i += Character.charCount(ca);
      j += Character.charCount(cb);
    }
    return Boolean.compare(i < a.length(), j < b.length());
  }

  /**
   * A filter value in the stats' domain: exact numbers (infinities as Double), strings, and
   * datetimes as exact ticks in {@code unit}. Null for values that cannot prune (NaN,
   * decimals, booleans, nulls and other types).
   */
  static Object comparable(Object v, String unit) {
    if (v instanceof java.sql.Date) {
      v = ((java.sql.Date) v).toLocalDate();
    }
    if (v instanceof LocalDate) {
      v = ((LocalDate) v).atStartOfDay();
    }
    if (v instanceof java.sql.Timestamp) {
      v = ((java.sql.Timestamp) v).toInstant();
    }
    if (v instanceof LocalDateTime) {
      v = ((LocalDateTime) v).toInstant(ZoneOffset.UTC);
    }
    if (v instanceof Instant) {
      Instant t = (Instant) v;
      BigDecimal nanos = BigDecimal.valueOf(t.getEpochSecond()).scaleByPowerOfTen(9)
          .add(BigDecimal.valueOf(t.getNano()));
      int per = unit.equals("s") ? 9 : unit.equals("ms") ? 6 : unit.equals("us") ? 3 : 0;
      return nanos.movePointLeft(per);
    }
    if (v instanceof Byte || v instanceof Short || v instanceof Integer || v instanceof Long) {
      return BigDecimal.valueOf(((Number) v).longValue());
    }
    if (v instanceof Float || v instanceof Double) {
      double d = ((Number) v).doubleValue();
      return Double.isNaN(d) ? null : Double.isInfinite(d) ? (Object) d : new BigDecimal(d);
    }
    return v instanceof String ? v : null;
  }

  /** A JSON scalar as a Java value: exact numbers, strings, booleans; null otherwise. */
  static Object plain(JsonNode n) {
    if (n == null || n.isNull()) {
      return null;
    }
    if (n.isIntegralNumber()) {
      return new BigDecimal(n.bigIntegerValue());
    }
    if (n.isNumber()) {
      double d = n.doubleValue();
      return Double.isNaN(d) || Double.isInfinite(d) ? (Object) d : new BigDecimal(d);
    }
    if (n.isTextual()) {
      return n.textValue();
    }
    return n.isBoolean() ? (Object) n.booleanValue() : null;
  }

  /** A stats list as comparables; an entry that cannot compare (NaN, bool, ...) is unknown. */
  static Object[] normalize(JsonNode list) {
    Object[] out = new Object[list.size()];
    for (int i = 0; i < out.length; i++) {
      Object v = plain(list.get(i));
      boolean usable = v instanceof String || v instanceof BigDecimal
          || (v instanceof Double && !((Double) v).isNaN());
      out[i] = usable ? v : null;
    }
    return out;
  }
}
