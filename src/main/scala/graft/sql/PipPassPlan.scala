package org.apache.spark.sql.graft

import graft.join.PipZones
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, classic}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.Partitioning
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.types.{BinaryType, DoubleType, LongType, StructField}

/**
 * Plan node of `SpatialJoins.coverJoin`'s broadcast pass: every child row
 * (a point) followed by each zone of the broadcast [[PipZones]] index
 * within the index's radius of it. Output: `cell`, the child's columns,
 * `zone_id`, `zone_geom`, the column order of the cell equi-join. A plain
 * unary node, so column pruning reaches the points scan through it.
 */
case class PipPass(cell: Attribute, lon: Expression, lat: Expression,
                   zoneId: Attribute, zoneGeom: Attribute,
                   zones: Broadcast[PipZones], child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = cell +: child.output :+ zoneId :+ zoneGeom
  override def producedAttributes: AttributeSet = AttributeSet(Seq(cell, zoneId, zoneGeom))
  override protected def withNewChildInternal(c: LogicalPlan): PipPass = copy(child = c)
}

/** Physical [[PipPass]]: one `mapPartitions` over the child's rows. */
case class PipPassExec(cell: Attribute, lon: Expression, lat: Expression,
                       zoneId: Attribute, zoneGeom: Attribute,
                       zones: Broadcast[PipZones], child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = cell +: child.output :+ zoneId :+ zoneGeom
  override def producedAttributes: AttributeSet = AttributeSet(Seq(cell, zoneId, zoneGeom))
  // each child row's output rows are contiguous and stay in its partition
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = child.outputOrdering

  override protected def doExecute(): RDD[InternalRow] = {
    val coords = BindReferences.bindReferences(Seq(lon, lat), child.output)
    val types = output.map(_.dataType).toArray
    val bz = zones
    child.execute().mapPartitionsInternal { points =>
      bz.value.probe(points, UnsafeProjection.create(coords), UnsafeProjection.create(types))
    }
  }

  override protected def withNewChildInternal(c: SparkPlan): PipPassExec = copy(child = c)
}

/** The strategy that turns a [[PipPass]] into a [[PipPassExec]];
  * `GraftFunctions.install` registers it. */
object PipPassStrategy extends SparkStrategy {
  def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case p: PipPass =>
      PipPassExec(p.cell, p.lon, p.lat, p.zoneId, p.zoneGeom, p.zones, planLater(p.child)) :: Nil
    case _ => Nil
  }
}

object PipPass {
  /** `points` (with DOUBLE `lon`, `lat`; an existing `cell` column is
    * replaced) probed against `zones`. `zoneId`/`zoneGeom` name and type
    * the two zone columns; `cell` is nullable when a coordinate is. */
  def frame(points: DataFrame, zones: Broadcast[PipZones],
            zoneId: StructField, zoneGeom: StructField): DataFrame = {
    val session = points.sparkSession.asInstanceOf[classic.SparkSession]
    val conf = session.sessionState.conf
    val child = points.drop("cell").queryExecution.analyzed
    def coord(name: String): Expression = {
      val a = child.resolve(Seq(name), conf.resolver).getOrElse(
        throw new IllegalArgumentException(s"pipJoin: the points have no column `$name`"))
      // st_cellid's input type: the equi-join path rejects any other
      require(a.dataType == DoubleType, s"pipJoin: `$name` is ${a.dataType.sql}, not DOUBLE")
      a
    }
    val lon = coord("lon"); val lat = coord("lat")
    val node = PipPass(
      AttributeReference("cell", LongType, lon.nullable || lat.nullable)(),
      lon, lat,
      AttributeReference(zoneId.name, zoneId.dataType, zoneId.nullable, zoneId.metadata)(),
      AttributeReference(zoneGeom.name, BinaryType, zoneGeom.nullable, zoneGeom.metadata)(),
      zones, child)
    classic.Dataset.ofRows(session, node)
  }
}
