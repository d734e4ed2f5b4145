package graft.operators

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.ml.feature.PCA
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.ml.regression.{DecisionTreeRegressionModel, DecisionTreeRegressor, GBTRegressor, LinearRegression, RandomForestRegressor}
import org.apache.spark.ml.tree.{ContinuousSplit, InternalNode, LeafNode, Node}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** ML model lifecycle — named models behind CREATE/SHOW/EVALUATE/DROP
  * MODEL and `ML_PREDICT('name', predictors...)`.
  *
  * Reference surface: `CREATE MODEL <name> OF TYPE <type> AS <query>`
  * (`java/calcite/.../ddl/SqlCreateModel.java` in /root/reference; model
  * types `QueryEngine/TableFunctions/SystemFunctions/os/ML/MLModelType.h:25`
  * — LINEAR_REG, DECISION_TREE_REG, GBT_REG, RANDOM_FOREST_REG, PCA),
  * SHOW MODELS / SHOW MODEL DETAILS (`Catalog/DdlCommandExecutor.h:289`),
  * EVALUATE MODEL (`DdlCommandExecutor.h:334`), and the ML_PREDICT scalar
  * (`HeavyDBSqlOperatorTable.java:846` — first arg TEXT literal model
  * name, then numeric predictors; `Tests/ShowCommandsDdlTest.cpp:3281`
  * pins the statement shapes).
  *
  * Spark-first architecture, mirroring the reference's key design move:
  * HeavyDB does NOT call into a model server at query time — it codegens
  * the fitted model into the kernel (`QueryEngine/MLPredictCodegen.cpp`:
  * linear coefficients become LLVM constants, fitted trees become branch
  * code). The Spark analog is compiling the fitted model into a Column
  * expression tree: linear models become literal arithmetic, decision
  * trees become nested `when(feature <= threshold, ...)` chains, forests
  * average them, GBT weight-sums them. Predictions therefore run inside
  * whole-stage codegen with zero per-row JVM-object overhead and no
  * model-object serialization to executors — the plan IS the model.
  *
  * Scale: fit is MLlib's distributed path (tree-aggregation); predict is
  * pure expression evaluation, embarrassingly parallel, broadcast-free.
  * Tree depth is bounded by the fit options (default 5, max ~12) which
  * keeps the generated code well under janino's method-size limits.
  */
object Models {

  /** A fitted model: metadata + the predict-as-Column compiler. */
  final case class FittedModel(
      name: String,
      modelType: String,
      target: String,
      predictors: Seq[String],
      trainQuery: String,
      trainRows: Long,
      r2: Double,
      predict: Seq[Column] => Column,
      // (feature, value): coefficients for linear models (+intercept),
      // feature importances for tree models, PC1 loadings for PCA —
      // backs SHOW MODEL FEATURE DETAILS
      // (`Catalog/DdlCommandExecutor.h:312`).
      featureDetails: Seq[(String, Double)] = Seq.empty)

  private val registry = new ConcurrentHashMap[String, FittedModel]()

  def get(name: String): FittedModel = {
    val m = registry.get(name.toLowerCase)
    require(m != null, s"model not found: $name")
    m
  }

  def exists(name: String): Boolean = registry.containsKey(name.toLowerCase)

  def list: Seq[FittedModel] = {
    import scala.jdk.CollectionConverters._
    registry.values.asScala.toSeq.sortBy(_.name)
  }

  def drop(name: String): Unit = registry.remove(name.toLowerCase)

  /** Compile a fitted MLlib regression tree into a Column — the Spark
    * analog of `MLPredictCodegen.cpp`'s tree codegen. Continuous splits
    * only (the reference one-hot-encodes categoricals before the tree
    * sees them; our surface requires numeric predictors the same way).
    */
  private[operators] def treeToColumn(node: Node, features: Seq[Column]): Column =
    node match {
      case leaf: LeafNode => lit(leaf.prediction)
      case in: InternalNode =>
        in.split match {
          case cs: ContinuousSplit =>
            when(features(cs.featureIndex) <= lit(cs.threshold),
              treeToColumn(in.leftChild, features))
              .otherwise(treeToColumn(in.rightChild, features))
          case other =>
            throw new IllegalArgumentException(
              s"categorical split not supported (one-hot encode first): $other")
        }
    }

  /** Fit `modelType` on `df` (first column = target, rest = predictors —
    * the reference's CREATE MODEL column contract) and register it.
    * Options (reference WITH-clause, `Parser/ParserNode.h:1969`):
    * max_tree_depth, num_trees, max_iterations, data_split_train_fraction.
    */
  def create(spark: SparkSession, name: String, modelType: String,
      trainQuery: String, options: Map[String, String] = Map.empty)
      : FittedModel = {
    val df0 = spark.sql(trainQuery)
    val cols = df0.columns
    require(cols.length >= 2 || modelType.toUpperCase == "PCA",
      s"CREATE MODEL needs a target column and at least one predictor")
    val mt = modelType.toUpperCase
    val isPca = mt == "PCA"
    val target = if (isPca) "" else cols.head
    val predictors = if (isPca) cols.toSeq else cols.tail.toSeq
    // Positional rename before any by-name selection: expression-derived
    // column names ("(3.0 + 2.0 * x)") contain dots that attribute
    // resolution would treat as nesting.
    val df = df0.toDF(cols.indices.map(i => s"__c$i"): _*)
    val targetCol = "__c0"
    val predictorCols =
      (if (isPca) cols.indices else cols.indices.tail).map(i => s"__c$i")

    val trainFraction =
      options.getOrElse("data_split_train_fraction", "1.0").toDouble
    val depth = options.getOrElse("max_tree_depth", "5").toInt
    val numTrees = options.getOrElse("num_trees", "10").toInt
    val maxIter = options.getOrElse("max_iterations", "10").toInt

    val numeric = df.select(
      (if (isPca) Seq.empty[Column]
       else Seq(col(targetCol).cast("double").as("label"))) ++
        Seq(array_to_vector(
          array(predictorCols.map(col(_).cast("double")): _*))
          .as("features")): _*)
      .na.drop()
    val fitInput =
      if (trainFraction >= 1.0) numeric
      else numeric.randomSplit(Array(trainFraction, 1 - trainFraction), 42L)(0)
    val trainRows = fitInput.count()

    def features(xs: Seq[Column]): Seq[Column] = {
      require(xs.length == predictors.length,
        s"ml_predict('$name', ...) expects ${predictors.length} predictors, " +
          s"got ${xs.length}")
      xs.map(_.cast("double"))
    }

    val (predictFn, r2, details) = mt match {
      case "LINEAR_REG" =>
        val m = new LinearRegression().setSolver("normal").setRegParam(0.0)
          .fit(fitInput)
        val (b0, coefs) = (m.intercept, m.coefficients.toArray)
        ((xs: Seq[Column]) => features(xs).zip(coefs.toSeq)
          .foldLeft(lit(b0)) { case (acc, (x, c)) => acc + x * lit(c) },
          m.summary.r2,
          ("intercept", b0) +: predictors.zip(coefs.toSeq))
      case "DECISION_TREE_REG" =>
        val m = new DecisionTreeRegressor().setSeed(7L).setMaxDepth(depth)
          .fit(fitInput)
        ((xs: Seq[Column]) => treeToColumn(m.rootNode, features(xs)),
          rSquared(m.transform(numeric)),
          predictors.zip(m.featureImportances.toArray.toSeq))
      case "RANDOM_FOREST_REG" =>
        val m = new RandomForestRegressor().setSeed(7L).setMaxDepth(depth)
          .setNumTrees(numTrees).fit(fitInput)
        val trees = m.trees.map(_.asInstanceOf[DecisionTreeRegressionModel])
        // MLlib forest predict = unweighted mean over trees.
        ((xs: Seq[Column]) => {
          val fs = features(xs)
          trees.map(t => treeToColumn(t.rootNode, fs))
            .reduce(_ + _) / lit(trees.length.toDouble)
        }, rSquared(m.transform(numeric)),
          predictors.zip(m.featureImportances.toArray.toSeq))
      case "GBT_REG" =>
        val m = new GBTRegressor().setSeed(7L).setMaxIter(maxIter)
          .setMaxDepth(math.min(depth, 5)).fit(fitInput)
        val trees = m.trees.map(_.asInstanceOf[DecisionTreeRegressionModel])
        val weights = m.treeWeights
        ((xs: Seq[Column]) => {
          val fs = features(xs)
          trees.zip(weights).map { case (t, w) =>
            treeToColumn(t.rootNode, fs) * lit(w)
          }.reduce(_ + _)
        }, rSquared(m.transform(numeric)),
          predictors.zip(m.featureImportances.toArray.toSeq))
      case "PCA" =>
        val m = new PCA().setK(math.min(predictors.length,
            options.getOrElse("n_components", "2").toInt))
          .setInputCol("features").setOutputCol("pc").fit(fitInput)
        val pc = m.pc // dim x k, column-major principal axes
        // PCA "predict" = projection onto the first principal component
        // (PCA_PROJECT(model, ..., 1) in the reference; further components
        // via pcaProject below).
        ((xs: Seq[Column]) => {
          val fs = features(xs)
          (0 until pc.numRows).map(r => fs(r) * lit(pc(r, 0))).reduce(_ + _)
        }, 1.0,
          predictors.zipWithIndex.map { case (p, r) => (p, pc(r, 0)) })
      case other =>
        throw new IllegalArgumentException(
          s"unknown model type: $other (LINEAR_REG, DECISION_TREE_REG, " +
            "GBT_REG, RANDOM_FOREST_REG, PCA)")
    }

    val fitted = FittedModel(name.toLowerCase, mt, target, predictors,
      trainQuery, trainRows, r2, predictFn, details)
    registry.put(name.toLowerCase, fitted)
    fitted
  }

  /** R² of a transform output with (label, prediction) columns —
    * 1 - SS_res/SS_tot, the reference's r2_score
    * (`MLTableFunctions.hpp` r2_score table function).
    */
  private def rSquared(pred: DataFrame): Double = {
    // One distributed pass: SS_tot from the sum/sum-of-squares identity,
    // SS_res directly — no second scan for the label mean.
    val r = pred.agg(
      count(lit(1)).cast("double"),
      sum(col("label")), sum(col("label") * col("label")),
      sum(pow(col("label") - col("prediction"), 2.0))).head()
    val n = r.getDouble(0)
    val sy = r.getDouble(1)
    val syy = r.getDouble(2)
    val ssRes = r.getDouble(3)
    val ssTot = syy - sy * sy / n
    if (ssTot == 0.0) 1.0 else 1.0 - ssRes / ssTot
  }

  /** ML_PREDICT('model', predictors...) as a Column. */
  def mlPredict(name: String, predictors: Column*): Column =
    get(name).predict(predictors)

  /** EVALUATE MODEL [ON query] → R² on the given (or training) data.
    * Reference: `EvaluateModelCommand` (`Catalog/DdlCommandExecutor.h:334`,
    * shape `Tests/ShowCommandsDdlTest.cpp:3996` — ON SELECT target,
    * predictors FROM ...).
    */
  def evaluate(spark: SparkSession, name: String,
      onQuery: Option[String] = None): Double = {
    val m = get(name)
    require(m.modelType != "PCA", "EVALUATE MODEL: PCA has no R² metric")
    val df0 = spark.sql(onQuery.getOrElse(m.trainQuery))
    require(df0.columns.length == m.predictors.length + 1,
      s"EVALUATE MODEL $name expects (target, ${m.predictors.length} " +
        s"predictors), got ${df0.columns.length} columns")
    val df = df0.toDF(df0.columns.indices.map(i => s"__c$i"): _*)
    val withPred = df.select(col("__c0").cast("double").as("label"),
      m.predict(df.columns.tail.map(col(_)).toSeq).as("prediction"))
    rSquared(withPred)
  }

  /** PCA_PROJECT('model', predictors..., component): projection onto the
    * given 1-based principal component — matches the reference's
    * PCA_PROJECT scalar (`MLTableFunctions.hpp` pca_project).
    */
  def pcaProject(spark: SparkSession, name: String, component: Int,
      predictors: Column*): Column = {
    val m = get(name)
    require(m.modelType == "PCA", s"$name is not a PCA model")
    // Re-derive the axes deterministically from the stored train query —
    // the registry keeps predict (PC1); other components need the matrix.
    val df0 = spark.sql(m.trainQuery)
    val df = df0.toDF(df0.columns.indices.map(i => s"__c$i"): _*)
    val fit = new PCA().setK(component)
      .setInputCol("features").setOutputCol("pc")
      .fit(df.select(array_to_vector(
        array(df.columns.map(col(_).cast("double")): _*)).as("features")))
    val pc = fit.pc
    val fs = predictors.map(_.cast("double"))
    (0 until pc.numRows).map(r => fs(r) * lit(pc(r, component - 1)))
      .reduce(_ + _)
  }

  /** SHOW MODELS / SHOW MODEL DETAILS result shapes
    * (`Catalog/DdlCommandExecutor.h:289`,
    * `SqlShowModelDetails.java`).
    */
  def showModels(spark: SparkSession): DataFrame = {
    import spark.implicits._
    list.map(_.name).toDF("model_name")
  }

  def showModelDetails(spark: SparkSession, name: String): DataFrame = {
    import spark.implicits._
    val m = get(name)
    Seq((m.name, m.modelType, m.target, m.predictors.mkString(","),
      m.trainRows, m.r2))
      .toDF("model_name", "model_type", "target", "predictors",
        "num_train_rows", "r2")
  }

  /** SHOW MODEL FEATURE DETAILS: per-feature coefficients (linear),
    * importances (trees) or PC1 loadings (PCA) —
    * `SqlShowModelFeatureDetails.java`,
    * `Catalog/DdlCommandExecutor.h:312`.
    */
  def showModelFeatureDetails(spark: SparkSession, name: String): DataFrame = {
    import spark.implicits._
    val m = get(name)
    m.featureDetails.map { case (f, v) => (m.name, f, v) }
      .toDF("model_name", "feature", "coefficient")
  }

  /** Register ML_PREDICT as a SQL function. The first argument must be a
    * string literal (the reference enforces exactly this,
    * `HeavyDBSqlOperatorTable.java:868`); the fitted model expands into
    * the expression tree at ANALYSIS time — queries carry the model as
    * plan, not as a runtime lookup.
    */
  def register(spark: SparkSession): Unit = {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
    import org.apache.spark.sql.graftbridge.ColumnBridge
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier("ml_predict"),
      new ExpressionInfo("graft", "ml_predict"),
      (exprs: Seq[Expression]) => {
        val name = exprs.headOption match {
          case Some(Literal(s, org.apache.spark.sql.types.StringType))
              if s != null => s.toString
          case _ => throw new IllegalArgumentException(
            "ml_predict: first argument must be a TEXT literal model name")
        }
        ColumnBridge.expressionEager(
          get(name).predict(exprs.tail.map(ColumnBridge.column)))
      })
    // PCA_PROJECT('model', x1..xN, component) — the reference's PCA
    // companion scalar (`MLTableFunctions.hpp` pca_project: model name
    // literal, predictors, 1-based component index literal).
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier("pca_project"),
      new ExpressionInfo("graft", "pca_project"),
      (exprs: Seq[Expression]) => {
        val name = exprs.headOption match {
          case Some(Literal(s, org.apache.spark.sql.types.StringType))
              if s != null => s.toString
          case _ => throw new IllegalArgumentException(
            "pca_project: first argument must be a TEXT literal model name")
        }
        val comp = exprs.last match {
          case Literal(i: Int, org.apache.spark.sql.types.IntegerType) => i
          case _ => throw new IllegalArgumentException(
            "pca_project: last argument must be an INT literal component")
        }
        ColumnBridge.expressionEager(
          pcaProject(spark, name, comp,
            exprs.drop(1).dropRight(1).map(ColumnBridge.column): _*))
      })
  }
}
