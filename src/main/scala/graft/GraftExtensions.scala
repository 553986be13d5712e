package graft

import org.apache.spark.sql.SparkSessionExtensions

/** Session-extension entry point (`spark.sql.extensions=graft.GraftExtensions`;
  * [[graft.GraftSession.builder]] installs it on every graft session):
  * graft's analyzer and optimizer rules plus every function in
  * [[graft.functions.GraftFunctions]]' table.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(e: SparkSessionExtensions): Unit = {
    // SQL DML over snapshot tables: Spark's parser already yields
    // DeleteFromTable/UpdateTable/MergeIntoTable plans; this rule
    // lowers them onto the CoW verbs (GraftDml has the shared lowering)
    e.injectResolutionRule(session => graft.sources.GraftDmlRule(session))
    // …and in the pre-resolution Hints batch: catalog-addressed DML
    // (`MERGE INTO graft.db.t …`) must lower BEFORE builtin resolution
    // expands `UPDATE SET *` with its name-matched-source semantics
    // (which reject the key-renaming CDC-feed shape the verbs support)
    e.injectHintResolutionRule(session => graft.sources.GraftDmlRule(session))
    // Reads of GraftTableCatalog tables resolve onto readSnapshotAuto
    // (stats pruning + DV anti-joins + time travel) — MUST come after
    // the DML rule so mutation targets lower first
    e.injectResolutionRule(session => graft.sources.GraftCatalogReadRule(session))
    // SUM over ≤18-digit decimals leaves decimal space (four base-2^16
    // long limbs, recombined exactly per group) — the money-discipline
    // hot path across the relational + TPC-H surface; bit-identical by
    // construction, DecSumSpec + the 276-query oracle gate pin it.
    // r18 optimization round; escape hatch
    // spark.graft.optimizer.decimalSumLimbs=false.
    e.injectOptimizerRule(session => graft.plans.DecimalSumLimbs(session))
    graft.functions.GraftFunctions.scalar.foreach(e.injectFunction)
    graft.functions.GraftFunctions.table.foreach(e.injectTableFunction)
  }
}
