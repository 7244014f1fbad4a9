package graft

import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.WholeStageCodegenExec

/** Size of the code whole-stage codegen generates. HotSpot does not
  * JIT-compile a method over 8,000 bytes of bytecode
  * (`-XX:HugeMethodLimit`, which deployments do not get to change), so
  * a stage past that runs interpreted. Plans and compiles only: no
  * Spark job runs.
  */
object CodegenSize {

  val HugeMethodLimit = 8000

  /** Largest method of the compiled stage, in bytes of bytecode. */
  def maxMethodBytes(stage: WholeStageCodegenExec): Int = {
    val (_, code) = stage.doCodeGen()
    CodeGenerator.compile(code)._2.maxMethodCodeSize
  }
}
