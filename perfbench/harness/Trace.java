package perfbench;

import java.time.Instant;
import java.util.ArrayList;
import java.util.Arrays;
import java.util.Collections;
import java.util.LinkedHashMap;
import java.util.List;
import java.util.Map;

import org.apache.spark.SparkContext;
import org.apache.spark.executor.TaskMetrics;
import org.apache.spark.scheduler.SparkListener;
import org.apache.spark.scheduler.SparkListenerJobEnd;
import org.apache.spark.scheduler.SparkListenerJobStart;
import org.apache.spark.scheduler.SparkListenerStageCompleted;
import org.apache.spark.scheduler.SparkListenerTaskEnd;
import org.apache.spark.scheduler.StageInfo;
import org.apache.spark.scheduler.TaskInfo;
import org.apache.spark.sql.SparkSession;
import org.apache.spark.sql.catalyst.QueryPlanningTracker;
import org.apache.spark.sql.execution.QueryExecution;
import org.apache.spark.sql.streaming.StateOperatorProgress;
import org.apache.spark.sql.streaming.StreamingQueryListener;
import org.apache.spark.sql.streaming.StreamingQueryProgress;
import org.apache.spark.sql.util.QueryExecutionListener;
import org.apache.spark.storage.RDDInfo;

import scala.jdk.javaapi.CollectionConverters;

/**
 * The traced run's observers, registered through Spark's public listener
 * interfaces on the session the harness builds: a SparkListener (jobs,
 * stages, task-end metrics), a QueryExecutionListener (Catalyst phase
 * times from {@code qe.tracker()}) and a StreamingQueryListener (trigger
 * progress). Events are kept in memory with their own timestamps and
 * written once at the end of the run; run.py attributes each one to the
 * op whose window contains it. Each event is a flat list of fields.
 */
final class Trace {
  private final SparkSession spark;
  private final List<List<Object>> jobs = events();
  private final List<List<Object>> stages = events();
  private final List<List<Object>> tasks = events();
  private final List<List<Object>> phases = events();
  private final List<List<Object>> triggers = events();

  /** Listener callbacks arrive on Spark's listener threads. */
  private static List<List<Object>> events() {
    return Collections.synchronizedList(new ArrayList<>());
  }
  private final Map<Integer, Long> jobStarts = new java.util.concurrent.ConcurrentHashMap<>();

  private final SparkListener sparkListener = new SparkListener() {
    @Override public void onJobStart(SparkListenerJobStart e) {
      jobStarts.put(e.jobId(), e.time());
    }

    @Override public void onJobEnd(SparkListenerJobEnd e) {
      Long start = jobStarts.remove(e.jobId());
      if (start != null) jobs.add(Arrays.asList(e.jobId(), start, e.time()));
    }

    @Override public void onStageCompleted(SparkListenerStageCompleted e) {
      StageInfo s = e.stageInfo();
      if (s.submissionTime().isDefined() && s.completionTime().isDefined()) {
        stages.add(Arrays.asList(s.stageId(), s.attemptNumber(),
            (Long) s.submissionTime().get(), (Long) s.completionTime().get(),
            s.numTasks()));
      }
    }

    @Override public void onTaskEnd(SparkListenerTaskEnd e) {
      TaskInfo i = e.taskInfo();
      TaskMetrics m = e.taskMetrics();
      if (m == null) {
        tasks.add(Arrays.asList(e.stageId(), i.launchTime(), i.finishTime(), i.failed(),
            0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, i.duration()));
        return;
      }
      tasks.add(Arrays.asList(e.stageId(), i.launchTime(), i.finishTime(), i.failed(),
          m.executorRunTime(), m.executorCpuTime(), m.executorDeserializeTime(),
          m.resultSerializationTime(),
          m.shuffleWriteMetrics().bytesWritten(), m.shuffleWriteMetrics().recordsWritten(),
          m.shuffleWriteMetrics().writeTime(), m.shuffleReadMetrics().totalBytesRead(),
          m.shuffleReadMetrics().fetchWaitTime(),
          m.memoryBytesSpilled() + m.diskBytesSpilled(), m.peakExecutionMemory(),
          m.inputMetrics().bytesRead(), m.inputMetrics().recordsRead(),
          m.outputMetrics().bytesWritten(), m.outputMetrics().recordsWritten(),
          i.duration()));
    }
  };

  private final QueryExecutionListener qeListener = new QueryExecutionListener() {
    @Override public void onSuccess(String func, QueryExecution qe, long durationNs) {
      record(qe);
    }

    @Override public void onFailure(String func, QueryExecution qe, Exception err) {
      record(qe);
    }

    /** The callback runs on the listener bus, possibly after the op
      * has ended, so an execution is stamped with the end of its last
      * planning phase, taken during the query (the callback time is
      * kept beside it). */
    private void record(QueryExecution qe) {
      long now = System.currentTimeMillis();
      long stamp = -1;
      for (Map.Entry<String, QueryPlanningTracker.PhaseSummary> p :
          CollectionConverters.asJava(qe.tracker().phases()).entrySet()) {
        phases.add(Arrays.asList(p.getKey(), p.getValue().startTimeMs(),
            p.getValue().endTimeMs()));
        stamp = Math.max(stamp, p.getValue().endTimeMs());
      }
      phases.add(Arrays.asList("execution", stamp < 0 ? now : stamp, now));
    }
  };

  private final StreamingQueryListener streamListener = new StreamingQueryListener() {
    @Override public void onQueryStarted(QueryStartedEvent e) {}

    @Override public void onQueryTerminated(QueryTerminatedEvent e) {}

    @Override public void onQueryProgress(QueryProgressEvent e) {
      StreamingQueryProgress p = e.progress();
      Map<String, Long> d = p.durationMs();
      long stateRows = 0;
      for (StateOperatorProgress s : p.stateOperators()) stateRows += s.numRowsTotal();
      triggers.add(Arrays.asList(p.id().toString(), p.batchId(),
          Instant.parse(p.timestamp()).toEpochMilli(),
          d.getOrDefault("triggerExecution", 0L), d.getOrDefault("addBatch", 0L),
          d.getOrDefault("commitOffsets", 0L) + d.getOrDefault("commitBatch", 0L),
          p.numInputRows(), stateRows));
    }
  };

  Trace(SparkSession spark) {
    this.spark = spark;
  }

  void attach() {
    spark.sparkContext().addSparkListener(sparkListener);
    spark.listenerManager().register(qeListener);
    spark.streams().addListener(streamListener);
  }

  /** Drain the listener bus, so every event of the pass is recorded,
    * then unregister. */
  void detach() {
    SparkContext sc = spark.sparkContext();
    try {
      sc.listenerBus().waitUntilEmpty(30000L);
    } catch (Exception e) {
      System.err.println("perfbench: listener bus did not drain: " + e);
    }
    spark.streams().removeListener(streamListener);
    spark.listenerManager().unregister(qeListener);
    sc.removeSparkListener(sparkListener);
  }

  long storageBytes() {
    long b = 0;
    for (RDDInfo r : spark.sparkContext().getRDDStorageInfo()) {
      b += r.memSize() + r.diskSize();
    }
    return b;
  }

  Map<String, Object> records() {
    Map<String, Object> m = new LinkedHashMap<>();
    m.put("jobs", jobs);
    m.put("stages", stages);
    m.put("tasks", tasks);
    m.put("phases", phases);
    m.put("triggers", triggers);
    return m;
  }
}
