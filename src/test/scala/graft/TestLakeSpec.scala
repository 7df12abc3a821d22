package graft

import graft.index.TestLake
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile

/** The demo lake's fixture shape. [[TestLake.tables]] decides whether
  * to spread a table before the index transform from its file count,
  * which equals its scan parallelism only while every table is ONE
  * parquet file holding ONE row group. A regenerated testdata lake
  * with another layout must fail here, loudly, instead of silently
  * changing how the index build parallelizes.
  */
class TestLakeSpec extends SparkSpec {

  test("every demo-lake table is one parquet file with one row group") {
    val dirs = Seq("sf0.001", "sf0.01", "sf0.1").map(sf(_))
      .filter(d => new java.io.File(d).isDirectory)
    assert(dirs.nonEmpty, "no testdata lake found")
    val conf = spark.sessionState.newHadoopConf()
    for (dir <- dirs; (_, name, _, _) <- TestLake.spec) {
      val files = spark.read.parquet(s"$dir/$name.parquet").inputFiles
      assert(files.length == 1, s"$dir/$name: ${files.length} files")
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(files.head), conf))
      val groups = try reader.getRowGroups.size finally reader.close()
      assert(groups == 1, s"$dir/$name: $groups row groups")
    }
  }
}
