package perfbench;

import java.math.BigDecimal;
import java.nio.charset.StandardCharsets;
import java.security.MessageDigest;
import java.util.ArrayList;
import java.util.List;
import java.util.Locale;

import org.apache.spark.sql.Row;

/**
 * Order-free content hash of a result: every row is rendered to a
 * canonical string, hashed to 64 bits (MD5 prefix), and the row hashes
 * are summed modulo 2^64, so the fingerprint does not depend on row
 * order or partitioning. Floating-point values are rendered at 9
 * significant digits, which absorbs last-bit differences from
 * partition-order-dependent summation without hiding a wrong answer.
 */
final class Fingerprint {
  private Fingerprint() {}

  static String of(List<Row> rows) throws Exception {
    MessageDigest md = MessageDigest.getInstance("MD5");
    long sum = 0;
    for (Row r : rows) {
      StringBuilder sb = new StringBuilder();
      render(sb, r);
      byte[] d = md.digest(sb.toString().getBytes(StandardCharsets.UTF_8));
      long h = 0;
      for (int i = 0; i < 8; i++) h = (h << 8) | (d[i] & 0xff);
      sum += h;
    }
    return String.format(Locale.ROOT, "%016x", sum);
  }

  static void render(StringBuilder sb, Object v) {
    if (v == null) {
      sb.append('~');
    } else if (v instanceof Row) {
      Row r = (Row) v;
      sb.append('(');
      for (int i = 0; i < r.length(); i++) {
        if (i > 0) sb.append(',');
        render(sb, r.get(i));
      }
      sb.append(')');
    } else if (v instanceof Double || v instanceof Float) {
      double d = ((Number) v).doubleValue();
      if (d == 0.0) d = 0.0; // -0.0 and 0.0 render alike
      sb.append(Double.isFinite(d) ? String.format(Locale.ROOT, "%.9g", d)
          : Double.toString(d));
    } else if (v instanceof BigDecimal) {
      sb.append(((BigDecimal) v).stripTrailingZeros().toPlainString());
    } else if (v instanceof byte[]) {
      for (byte b : (byte[]) v) sb.append(String.format(Locale.ROOT, "%02x", b));
    } else if (v instanceof scala.collection.Map) {
      List<String> entries = new ArrayList<>();
      scala.collection.Iterator<?> it = ((scala.collection.Map<?, ?>) v).iterator();
      while (it.hasNext()) {
        scala.Tuple2<?, ?> e = (scala.Tuple2<?, ?>) it.next();
        StringBuilder k = new StringBuilder();
        render(k, e._1());
        k.append("->");
        render(k, e._2());
        entries.add(k.toString());
      }
      entries.sort(null);
      sb.append('{').append(String.join(",", entries)).append('}');
    } else if (v instanceof scala.collection.Iterable) {
      sb.append('[');
      scala.collection.Iterator<?> it = ((scala.collection.Iterable<?>) v).iterator();
      boolean first = true;
      while (it.hasNext()) {
        if (!first) sb.append(',');
        first = false;
        render(sb, it.next());
      }
      sb.append(']');
    } else {
      sb.append(v.toString());
    }
  }
}
