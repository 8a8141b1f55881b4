package graft.llm

import org.apache.spark.sql.{Column, DataFrame}

/** Test-side bridge to `private[llm]` internals: PropertySpec lives in
  * package `graft` but pins properties of [[Sampling.rankedByHash]], the
  * shared slice-rank that underpins five samplers and the interleave.
  */
object LlmTestAccess {
  def rankedByHash(df: DataFrame, groupCols: Seq[String], h: Column): DataFrame =
    Sampling.rankedByHash(df, groupCols, h)
  def slicedPrefix(df: DataFrame, groupCols: Seq[String], h: Column, w: Column): DataFrame =
    Sampling.slicedPrefix(df, groupCols, h, w)
  def parseAvi(bytes: Array[Byte]): Option[Multimodal.AviVideo] =
    Multimodal.parseAvi(bytes)
  def parseAviAudio(bytes: Array[Byte]): Option[Multimodal.AviAudio] =
    Multimodal.parseAviAudio(bytes)
  def extractAudioBlob(bytes: Array[Byte]): (Array[Byte], String) =
    Multimodal.extractAudioBlob(bytes)
  def resampleAudioBlob(bytes: Array[Byte], targetRate: Int): (Array[Byte], String) =
    Multimodal.resampleAudioBlob(bytes, targetRate)
  def decodeAudio(bytes: Array[Byte]): Option[Multimodal.MediaInfo] =
    Multimodal.decodeAudio(bytes)
  def decodeStub(bytes: Array[Byte]): (Int, Int, Array[Float]) =
    Multimodal.decodeStub(bytes)
}
