package perfbench;

import static org.apache.spark.sql.functions.col;
import static org.apache.spark.sql.functions.expr;
import static org.apache.spark.sql.functions.size;
import static org.apache.spark.sql.functions.when;

import com.fasterxml.jackson.databind.ObjectMapper;

import java.io.File;
import java.io.IOException;
import java.lang.management.GarbageCollectorMXBean;
import java.lang.management.ManagementFactory;
import java.nio.charset.StandardCharsets;
import java.nio.file.Files;
import java.nio.file.Path;
import java.nio.file.Paths;
import java.util.ArrayList;
import java.util.Arrays;
import java.util.HashMap;
import java.util.LinkedHashMap;
import java.util.List;
import java.util.Map;

import org.apache.spark.metrics.source.CodegenMetrics;
import org.apache.spark.sql.Dataset;
import org.apache.spark.sql.Row;
import org.apache.spark.sql.SparkSession;
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator;

import scala.Tuple2;
import scala.Tuple3;
import scala.jdk.javaapi.CollectionConverters;

/**
 * Closed-loop, single-client load generator for the engine's public entry
 * points.
 *
 * <p>Reads a plan file written by run.py (data dir, session width, warm-up
 * order, seeded pass orders, trainer sample seed, reference fingerprints),
 * issues one op at a time and writes every raw measurement as one JSON
 * document. All arithmetic on the measurements (medians, percentiles, self
 * times) happens in metrics.py, so this class only observes.
 *
 * <p>An op on a registered qid is {@code Registry.byId(q).fn(spark, dir)}
 * followed by {@code count()}. The two trainer ops ({@code @mf_train},
 * {@code @pa_train}) call {@code ps.MfTrainer.train} and
 * {@code ps.PaTrainer.train} on inputs sampled once per run with the
 * plan's seed, and assert what the engine's trainer specs assert.
 *
 * <p>Usage: {@code java ... perfbench.Harness <plan-file>}
 */
public final class Harness {
  /** Sampled shares of the trainers' inputs (MF ratings, PA embeddings). */
  static final double MF_FRACTION = 0.1;
  static final double PA_FRACTION = 0.8;

  static final long BASE_EPOCH_MS = System.currentTimeMillis();
  static final long BASE_NANO = System.nanoTime();

  /** Wall clock in epoch milliseconds with sub-millisecond resolution. */
  static double nowMs() {
    return BASE_EPOCH_MS + (System.nanoTime() - BASE_NANO) / 1e6;
  }

  final Map<String, String> conf = new HashMap<>();
  final List<String> warmup = new ArrayList<>();
  final List<Boolean> passTraced = new ArrayList<>();
  final List<List<String>> passes = new ArrayList<>();
  final Map<String, String[]> expect = new HashMap<>();

  SparkSession spark;
  String dataDir;
  Trace trace;
  /** Trainer inputs, sampled and collected once per run. */
  Dataset<Row> mfRatings;
  Dataset<Row> paData;
  final List<Map<String, Object>> ops = new ArrayList<>();
  final List<Map<String, Object>> passRecords = new ArrayList<>();
  final Map<String, Object> fingerprints = new LinkedHashMap<>();

  public static void main(String[] args) throws Exception {
    Harness h = new Harness();
    h.readPlan(Paths.get(args[0]));
    h.run();
    System.exit(0);
  }

  void readPlan(Path p) throws IOException {
    for (String line : Files.readAllLines(p, StandardCharsets.UTF_8)) {
      String[] f = line.trim().split("\\s+");
      if (f.length == 0 || f[0].isEmpty()) continue;
      List<String> rest = Arrays.asList(f).subList(1, f.length);
      switch (f[0]) {
        case "warmup": warmup.addAll(rest); break;
        case "pass": // pass <traced 0|1> <op>...
          passTraced.add("1".equals(f[1]));
          passes.add(new ArrayList<>(rest.subList(1, rest.size())));
          break;
        case "expect": expect.put(f[1], new String[] {f[2], f[3]}); break;
        default: conf.put(f[0], String.join(" ", rest));
      }
    }
  }

  void run() throws Exception {
    long jvmStartMs = ManagementFactory.getRuntimeMXBean().getStartTime();
    String mode = conf.getOrDefault("mode", "bench");
    boolean traced = "1".equals(conf.get("trace"));
    dataDir = conf.get("data");
    Map<String, Object> out = new LinkedHashMap<>();
    out.put("pid", ProcessHandle.current().pid());
    out.put("jvm_start_ms", jvmStartMs);

    double b0 = nowMs();
    spark = graft.GraftSession.builder()
        .master(conf.getOrDefault("master", "local[4]"))
        .shuffle(Integer.parseInt(conf.getOrDefault("shuffle", "4")))
        .name("perfbench")
        .build();
    spark.sparkContext().setLogLevel("WARN");
    out.put("session_build_ms", nowMs() - b0);
    if (traced) trace = new Trace(spark);

    if ("fingerprint".equals(mode)) {
      runPass(-1, warmup, false, true);
    } else {
      // the warm-up pass issues every op of the workload
      long seed = Long.parseLong(conf.getOrDefault("sample", "1"));
      if (warmup.contains("@mf_train")) mfRatings = mfInput(seed);
      if (warmup.contains("@pa_train")) paData = paInput(seed);
      runPass(-1, warmup, false, true);
      double t0 = nowMs();
      out.put("first_timed_op_ms", t0);
      long[] stat0 = procStat();
      long cpu0 = processCpuNs();
      for (int i = 0; i < passes.size(); i++) {
        runPass(i, passes.get(i), traced && passTraced.get(i), false);
      }
      double t1 = nowMs();
      out.put("window_ms", t1 - t0);
      out.put("window_cpu_ns", processCpuNs() - cpu0);
      out.put("proc_stat_start", stat0);
      out.put("proc_stat_end", procStat());
    }
    out.put("vm_hwm_kb", vmHwmKb());
    out.put("ops", ops);
    out.put("passes", passRecords);
    out.put("fingerprints", fingerprints);
    if (trace != null) out.put("trace", trace.records());
    new ObjectMapper().writeValue(new File(conf.get("out")), out);
    spark.stop();
  }

  void runPass(int index, List<String> order, boolean traced, boolean fingerprint) {
    spark.catalog().clearCache();
    if (traced) trace.attach();
    Map<String, Object> rec = new LinkedHashMap<>();
    rec.put("index", index);
    rec.put("traced", traced);
    long cpu0 = processCpuNs();
    long gc0 = gcMs();
    long jit0 = jitMs();
    long cg0 = CodeGenerator.compileTime();
    long cgc0 = CodegenMetrics.METRIC_COMPILATION_TIME().getCount();
    double s0 = nowMs();
    for (int k = 0; k < order.size(); k++) {
      runOp(index, order.get(k), fingerprint);
    }
    double s1 = nowMs();
    rec.put("start_ms", s0);
    rec.put("end_ms", s1);
    rec.put("cpu_ns", processCpuNs() - cpu0);
    rec.put("gc_ms", gcMs() - gc0);
    rec.put("jit_ms", jitMs() - jit0);
    rec.put("codegen_compile_ns", CodeGenerator.compileTime() - cg0);
    rec.put("codegen_classes",
        CodegenMetrics.METRIC_COMPILATION_TIME().getCount() - cgc0);
    if (traced) {
      rec.put("storage_bytes", trace.storageBytes());
      trace.detach();
    }
    passRecords.add(rec);
  }

  void runOp(int pass, String qid, boolean fingerprint) {
    Map<String, Object> rec = new LinkedHashMap<>();
    rec.put("pass", pass);
    rec.put("qid", qid);
    double a = nowMs();
    double b = a;
    long rows = -1;
    Dataset<Row> df = null;
    String error = null;
    try {
      switch (qid) {
        case "@mf_train": {
          Tuple2<Dataset<Row>, Dataset<Row>> factors = mfTrain();
          b = nowMs();
          mfCheck(factors);
          break;
        }
        case "@pa_train": paTrain(); b = nowMs(); break;
        default:
          df = graft.Registry.byId().apply(qid).fn().apply(spark, dataDir);
          b = nowMs();
          rows = df.count();
      }
    } catch (Throwable t) {
      error = t.getClass().getName();
      System.err.println("perfbench: op " + qid + " threw " + t);
    }
    double c = nowMs();
    // the result check runs outside the op's window
    String mismatch = null;
    String[] ref = expect.get(qid);
    if (error == null && rows >= 0) {
      try {
        if (fingerprint) {
          String hash = Fingerprint.of(df.collectAsList());
          fingerprints.put(qid, Map.of("rows", rows, "hash", hash));
          if (ref != null && !(ref[0].equals(Long.toString(rows)) && ref[1].equals(hash))) {
            mismatch = "fingerprint " + rows + "/" + hash + " != " + ref[0] + "/" + ref[1];
          }
        } else if (ref != null && !ref[0].equals(Long.toString(rows))) {
          mismatch = "rows " + rows + " != " + ref[0];
        }
      } catch (Throwable t) {
        error = t.getClass().getName();
        System.err.println("perfbench: checking " + qid + " threw " + t);
      }
    }
    rec.put("start_ms", a);
    rec.put("fn_end_ms", b);
    rec.put("end_ms", c);
    rec.put("check_ms", nowMs() - c);
    rec.put("rows", rows);
    if (error != null) rec.put("error", error);
    if (mismatch != null) rec.put("mismatch", mismatch);
    ops.add(rec);
  }

  /** The MF trainer's input: ratings built the way MfTrainerSpec builds
    * them (orders x lineitem), sampled with the run's seed and collected,
    * so every pass trains on the same rows. */
  Dataset<Row> mfInput(long seed) {
    Dataset<Row> o = graft.sources.Tables.orders(spark, dataDir)
        .select(col("o_orderkey"), col("o_custkey"));
    Dataset<Row> l = graft.sources.Tables.lineitem(spark, dataDir)
        .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"));
    return collected(o.join(l, col("o_orderkey").equalTo(col("l_orderkey")))
        .select(col("o_custkey").as("user"), col("l_partkey").as("item"),
            col("l_quantity").as("rating"))
        .sample(false, MF_FRACTION, seed));
  }

  /** The PA trainer's input: (embedding, label >= 5) as PaTrainerSpec
    * builds it, sampled with the run's seed and collected. */
  Dataset<Row> paInput(long seed) {
    return collected(graft.sources.Tables.embeddings(spark, dataDir)
        .select(expr("transform(embedding, v -> cast(v as double))").as("x"),
            when(col("label").geq(5), 1.0).otherwise(-1.0).as("y"))
        .sample(false, PA_FRACTION, seed));
  }

  /** A local relation holding df's rows: it survives clearCache(). */
  Dataset<Row> collected(Dataset<Row> df) {
    return spark.createDataFrame(df.collectAsList(), df.schema());
  }

  /** The MF trainer op. Returns the user and item factors; the loss
    * trajectory is checked here. */
  Tuple2<Dataset<Row>, Dataset<Row>> mfTrain() {
    Tuple3<Dataset<Row>, Dataset<Row>, scala.collection.immutable.Seq<Object>> r =
        graft.ps.MfTrainer.train(spark, mfRatings, 8, 4, 0.002, 0.01);
    List<Object> losses = CollectionConverters.asJava(r._3());
    check(losses.size() == 5, "mf: " + losses.size() + " losses, expected 5");
    for (int i = 1; i < losses.size(); i++) {
      check((Double) losses.get(i) < (Double) losses.get(i - 1),
          "mf: loss not strictly decreasing " + losses);
    }
    return new Tuple2<>(r._1(), r._2());
  }

  /** The factor-size checks of MfTrainerSpec; they run the factor plans. */
  static void mfCheck(Tuple2<Dataset<Row>, Dataset<Row>> factors) {
    check(factors._1().filter(size(col("vec")).notEqual(8)).count() == 0,
        "mf: user factor dim");
    check(factors._2().filter(size(col("vec")).notEqual(8)).count() == 0,
        "mf: item factor dim");
  }

  /** The PA trainer op, with PaTrainerSpec's assertions. */
  void paTrain() {
    Tuple2<double[], scala.collection.immutable.Seq<Tuple2<Object, Object>>> r =
        graft.ps.PaTrainer.train(spark, paData, 64, 5, 0.5);
    List<Tuple2<Object, Object>> m = CollectionConverters.asJava(r._2());
    check(r._1().length == 64, "pa: weight dim " + r._1().length);
    check(m.size() == 5, "pa: " + m.size() + " iterations");
    check((Double) m.get(4)._1() < (Double) m.get(0)._1(), "pa: hinge did not fall " + m);
    check((Double) m.get(4)._2() > 0.5, "pa: accuracy at chance " + m);
  }

  static void check(boolean ok, String what) {
    if (!ok) throw new AssertionError(what);
  }

  static long processCpuNs() {
    return ((com.sun.management.OperatingSystemMXBean)
        ManagementFactory.getOperatingSystemMXBean()).getProcessCpuTime();
  }

  static long gcMs() {
    long t = 0;
    for (GarbageCollectorMXBean b : ManagementFactory.getGarbageCollectorMXBeans()) {
      t += Math.max(0, b.getCollectionTime());
    }
    return t;
  }

  static long jitMs() {
    return ManagementFactory.getCompilationMXBean().getTotalCompilationTime();
  }

  /** Aggregate jiffies of the host's "cpu" line in /proc/stat. */
  static long[] procStat() {
    try {
      String first = Files.readAllLines(Paths.get("/proc/stat")).get(0);
      String[] f = first.trim().split("\\s+");
      long[] v = new long[f.length - 1];
      for (int i = 1; i < f.length; i++) v[i - 1] = Long.parseLong(f[i]);
      return v;
    } catch (Exception e) {
      return new long[0];
    }
  }

  static long vmHwmKb() {
    try {
      for (String l : Files.readAllLines(Paths.get("/proc/self/status"))) {
        if (l.startsWith("VmHWM:")) {
          return Long.parseLong(l.replaceAll("[^0-9]", ""));
        }
      }
    } catch (Exception e) {
      // fall through
    }
    return -1;
  }
}
