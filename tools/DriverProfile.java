import java.nio.file.Path;
import java.util.LinkedHashMap;
import java.util.List;
import java.util.Map;
import java.util.TreeMap;

import jdk.jfr.consumer.RecordedEvent;
import jdk.jfr.consumer.RecordedFrame;
import jdk.jfr.consumer.RecordedStackTrace;
import jdk.jfr.consumer.RecordedThread;
import jdk.jfr.consumer.RecordingFile;

/**
 * Client-thread CPU samples of one perfbench run, split by op class and by
 * driver phase. Reads the jdk.ExecutionSample events of a JFR recording,
 * keeps those of the workload's client threads (perfbench-client-*), and
 * names each sample's op class after the workload step lambda on its stack
 * (LakeWrite.$anonfun$append$1 is an `append` sample). Each sample goes to
 * the phase of the innermost frame that names one, else to `other`.
 *
 * Usage: java tools/DriverProfile.java RUN.jfr   (see tools/driver_profile.sh)
 */
public class DriverProfile {

  /** Phase name and the frame prefixes ("class.method") that mark it. */
  static final String[][] PHASES = {
    {"json", "org.json4s.", "com.fasterxml.jackson."},
    {"listing", "graft.lake.SnapshotStore.listVersions", "java.nio.file.Files.list",
        "java.nio.file.Files.walk"},
    {"explainString", "org.apache.spark.sql.execution.QueryExecution.explainString"},
    {"runJob", "org.apache.spark.SparkContext.runJob",
        "org.apache.spark.scheduler.DAGScheduler.runJob",
        "org.apache.spark.scheduler.DAGScheduler.submitJob"},
    {"analyzer", "org.apache.spark.sql.catalyst.analysis."},
    {"optimizer", "org.apache.spark.sql.catalyst.optimizer."},
    {"planner", "org.apache.spark.sql.catalyst.planning.QueryPlanner",
        "org.apache.spark.sql.execution.adaptive."},
  };

  static String frameName(RecordedFrame f) {
    return f.getMethod().getType().getName() + "." + f.getMethod().getName();
  }

  static String phaseOf(List<RecordedFrame> frames) {
    for (RecordedFrame f : frames) {
      if (!f.isJavaFrame()) continue;
      String n = frameName(f);
      for (String[] p : PHASES)
        for (int i = 1; i < p.length; i++)
          if (n.startsWith(p[i])) return p[0];
    }
    return "other";
  }

  /** The op class: the outermost workload-step lambda on the stack. */
  static String classOf(List<RecordedFrame> frames) {
    for (int i = frames.size() - 1; i >= 0; i--) {
      RecordedFrame f = frames.get(i);
      if (!f.isJavaFrame()) continue;
      String type = f.getMethod().getType().getName();
      String m = f.getMethod().getName();
      if (type.startsWith("graft.perfbench.") && !type.startsWith("graft.perfbench.Main")
          && m.startsWith("$anonfun$")) {
        String rest = m.substring("$anonfun$".length());
        int end = rest.indexOf('$');
        return end > 0 ? rest.substring(0, end) : rest;
      }
    }
    return "(no step)";
  }

  public static void main(String[] args) throws Exception {
    if (args.length != 1) {
      System.err.println("usage: java tools/DriverProfile.java RUN.jfr");
      System.exit(2);
    }
    Map<String, Map<String, Integer>> byClass = new TreeMap<>();
    int truncated = 0;
    int total = 0;
    try (RecordingFile rf = new RecordingFile(Path.of(args[0]))) {
      while (rf.hasMoreEvents()) {
        RecordedEvent e = rf.readEvent();
        if (!e.getEventType().getName().equals("jdk.ExecutionSample")) continue;
        RecordedThread t = e.getThread("sampledThread");
        if (t == null || t.getJavaName() == null
            || !t.getJavaName().startsWith("perfbench-client-")) continue;
        RecordedStackTrace st = e.getStackTrace();
        if (st == null) continue;
        if (st.isTruncated()) truncated++;
        List<RecordedFrame> frames = st.getFrames();
        total++;
        byClass.computeIfAbsent(classOf(frames), k -> new LinkedHashMap<>())
            .merge(phaseOf(frames), 1, Integer::sum);
      }
    }
    String[] cols = new String[PHASES.length + 1];
    for (int i = 0; i < PHASES.length; i++) cols[i] = PHASES[i][0];
    cols[PHASES.length] = "other";
    System.out.printf("client-thread CPU samples: %d (%d with truncated stacks)%n",
        total, truncated);
    StringBuilder head = new StringBuilder(String.format("%-12s %8s", "class", "samples"));
    for (String c : cols) head.append(String.format(" %13s", c));
    System.out.println(head);
    for (Map.Entry<String, Map<String, Integer>> en : byClass.entrySet()) {
      int n = en.getValue().values().stream().mapToInt(Integer::intValue).sum();
      StringBuilder row = new StringBuilder(String.format("%-12s %8d", en.getKey(), n));
      for (String c : cols)
        row.append(String.format(" %12.1f%%",
            100.0 * en.getValue().getOrDefault(c, 0) / Math.max(n, 1)));
      System.out.println(row);
    }
  }
}
