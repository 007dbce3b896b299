package graft

import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Relational queries over the TPC-H-ish tables: the surface the Spark
  * engine inherits from `org.apache.spark.sql` (SURVEY §2.8 — the
  * reference has no joins/sorts/set-ops; these demonstrate the engine's
  * superset capabilities and anchor the benchmark).
  *
  * Scale notes baked into the plans:
  *  - dimension joins (`region`, `nation`, `customer`, `supplier`) are
  *    explicit `broadcast()` — no shuffle of the fact table for them;
  *  - aggregations group directly on the join output so partial
  *    aggregation happens map-side before the single shuffle;
  *  - filters sit against the scan (predicate pushdown into parquet).
  */
object QueriesRelational {

  private def dsum(c: Column): Column = sum(c.cast("decimal(38,6)")).cast("double")

  def registerAll(register: (String, String) => (((SparkSession, String) => DataFrame) => Unit)): Unit = {

    register("tpch_q1",
      """SELECT l_returnflag, l_linestatus,
        |       CAST(sum(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sum_qty,
        |       CAST(sum(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS sum_base_price,
        |       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS sum_disc_price,
        |       CAST(sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(38,6))) AS DOUBLE) AS sum_charge,
        |       CAST(sum(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) / count(*) AS avg_qty,
        |       CAST(sum(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) / count(*) AS avg_price,
        |       CAST(sum(CAST(l_discount AS DECIMAL(38,6))) AS DOUBLE) / count(*) AS avg_disc,
        |       count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, dir) =>
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") <= to_timestamp(lit("1998-09-02 00:00:00")))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("sum_disc_price"),
          dsum(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax"))).as("sum_charge"),
          (dsum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
          (dsum(col("l_extendedprice")) / count(lit(1))).as("avg_price"),
          (dsum(col("l_discount")) / count(lit(1))).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    }

    register("tpch_q3_top_orders",
      """SELECT l.l_orderkey AS orderkey,
        |       CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS revenue,
        |       o.o_orderpriority AS priority
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |WHERE c.c_mktsegment = 'BUILDING' AND o.o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
        |GROUP BY 1, 3
        |ORDER BY revenue DESC, orderkey LIMIT 10""".stripMargin) { (s, dir) =>
      val l = Tables.lineitem(s, dir)
      val o = Tables.orders(s, dir).filter(col("o_orderdate") < to_timestamp(lit("1995-03-15 00:00:00")))
      val c = Tables.customer(s, dir).filter(col("c_mktsegment") === "BUILDING")
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .groupBy(col("l_orderkey").as("orderkey"), col("o_orderpriority").as("priority"))
        .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
        .select("orderkey", "revenue", "priority")
        .orderBy(col("revenue").desc, col("orderkey")).limit(10)
    }

    register("tpch_q5_region_revenue",
      """SELECT n.n_name AS nation,
        |       CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS revenue
        |FROM lineitem l
        |JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |JOIN nation n ON s.s_nationkey = n.n_nationkey
        |JOIN region r ON n.n_regionkey = r.r_regionkey
        |WHERE r.r_name = 'ASIA'
        |GROUP BY 1 ORDER BY nation""".stripMargin) { (s, dir) =>
      val l = Tables.lineitem(s, dir)
      val sup = Tables.supplier(s, dir)
      val n = Tables.nation(s, dir)
      val r = Tables.region(s, dir).filter(col("r_name") === "ASIA")
      l.join(broadcast(sup), l("l_suppkey") === sup("s_suppkey"))
        .join(broadcast(n), sup("s_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("n_name").as("nation"))
        .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
        .orderBy("nation")
    }

    register("parts_by_type_revenue",
      """SELECT p.p_type AS p_type,
        |       CAST(sum(CAST(l.l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS revenue,
        |       count(*) AS n
        |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |GROUP BY 1 ORDER BY p_type""".stripMargin) { (s, dir) =>
      val l = Tables.lineitem(s, dir)
      val p = Tables.part(s, dir)
      l.join(broadcast(p), l("l_partkey") === p("p_partkey"))
        .groupBy("p_type")
        .agg(dsum(col("l_extendedprice")).as("revenue"), count(lit(1)).as("n"))
        .orderBy("p_type")
    }

    register("order_priority_counts",
      """SELECT o_orderpriority, count(*) AS n
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY 1 ORDER BY o_orderpriority""".stripMargin) { (s, dir) =>
      Tables.orders(s, dir)
        .filter(col("o_orderdate") >= to_timestamp(lit("1996-01-01 00:00:00")) &&
          col("o_orderdate") < to_timestamp(lit("1997-01-01 00:00:00")))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"))
        .orderBy("o_orderpriority")
    }

    // Sessionization over the event stream: a new session starts after a
    // >30 min gap — the canonical large-scale user-journey shape (one
    // shuffle on user, per-key window scan).
    register("sessionize",
      s"""${Queries.EventsView}
         |, gaps AS (
         |  SELECT host, time,
         |         CASE WHEN time - lag(time) OVER (PARTITION BY host ORDER BY time, eventId)
         |                   > 1800000000000 OR
         |              lag(time) OVER (PARTITION BY host ORDER BY time, eventId) IS NULL
         |              THEN 1 ELSE 0 END AS new_session
         |  FROM ev)
         |SELECT host, CAST(sum(new_session) AS BIGINT) AS n_sessions, count(*) AS n_events
         |FROM gaps GROUP BY host ORDER BY host""".stripMargin) { (s, dir) =>
      val ev = Tables.events(s, dir)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("host").orderBy(col("time"), col("eventId"))
      ev.withColumn("new_session",
          when(lag(col("time"), 1).over(w).isNull ||
            col("time") - lag(col("time"), 1).over(w) > 1800L * 1000000000L, 1L).otherwise(0L))
        .groupBy("host")
        .agg(sum("new_session").as("n_sessions"), count(lit(1)).as("n_events"))
        .orderBy("host")
    }

    // one row PER SESSION (session_window semantics: end = last + gap);
    // the same plan runs on a stream, StreamingSpec pins stream == batch
    register("sessionize_rows",
      s"""${Queries.EventsView}
         |, gaps AS (
         |  SELECT host, (time // 1000) * 1000 AS t, eventId,
         |         CASE WHEN (time // 1000) * 1000
         |                   - lag((time // 1000) * 1000)
         |                     OVER (PARTITION BY host ORDER BY time, eventId)
         |                   > 1800000000000 OR
         |              lag(time) OVER (PARTITION BY host ORDER BY time, eventId) IS NULL
         |              THEN 1 ELSE 0 END AS new_session
         |  FROM ev),
         |sess AS (
         |  SELECT host, t,
         |         sum(new_session) OVER (PARTITION BY host ORDER BY t, eventId
         |                                ROWS UNBOUNDED PRECEDING) AS sid
         |  FROM gaps)
         |SELECT host, min(t) AS session_start,
         |       max(t) + 1800000000000 AS session_end,
         |       count(*) AS n_events
         |FROM sess GROUP BY host, sid
         |ORDER BY host, session_start""".stripMargin) { (s, dir) =>
      graft.operators.Windows.sessionize(1800, Seq("host"))(Tables.events(s, dir))
        .orderBy("host", "session_start")
    }
  }
}
