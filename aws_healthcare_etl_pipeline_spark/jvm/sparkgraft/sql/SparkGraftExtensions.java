package sparkgraft.sql;

import org.apache.spark.sql.SparkSessionExtensions;
import scala.runtime.AbstractFunction1;
import scala.runtime.BoxedUnit;

/** {@code spark.sql.extensions} entry point: registers {@link FooterRowCounts}. */
public class SparkGraftExtensions extends AbstractFunction1<SparkSessionExtensions, BoxedUnit> {
  @Override
  public BoxedUnit apply(SparkSessionExtensions extensions) {
    // pre-CBO: once per query, after operator optimization has pushed filters
    // and pruned columns down to the relation, before partition pruning
    extensions.injectPreCBORule(session -> new FooterRowCounts());
    return BoxedUnit.UNIT;
  }
}
